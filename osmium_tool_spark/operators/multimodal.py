"""Multimodal payload stages: resize / frame-sample / feature-extract.

The image/audio/video payload rides as an opaque `binary` column with
typed metadata (schema.IMAGE_SCHEMA, per BASELINE.json input_hint). The
Spark-side plumbing here — schemas, Arrow batch shapes, partitioning,
pure-Column index math — is real and oracled. Pixel stages decode real
payloads through `sources/images.any_decode_fns`; `resize_images` and
`extract_features` stay deterministic fakes for the caption-text
payloads of the `multimodal_*` registry rows.

Scale shape: every stage is embarrassingly parallel over the fact table
(no shuffle at all); frame sampling is pure Column math (sequence +
posexplode inside whole-stage codegen, zero Python)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FEATURE_MOD_A = 1009
FEATURE_MOD_B = 997


def resize_dims(w: Column, h: Column, max_side: int) -> tuple[Column, Column]:
    """Aspect-preserving integer target dimensions: the longer side is
    clamped to `max_side`, the shorter scales by the same integer ratio
    (floor), minimum 1px. Pure Column math — identical in the SQL oracle."""
    long_side = F.greatest(w, h)
    scale_w = F.greatest(F.floor(w * max_side / long_side).cast("int"), F.lit(1))
    scale_h = F.greatest(F.floor(h * max_side / long_side).cast("int"), F.lit(1))
    keep = long_side <= max_side
    return (
        F.when(keep, w).otherwise(scale_w),
        F.when(keep, h).otherwise(scale_h),
    )


def augment_crops(
    images: DataFrame,
    epoch: int,
    min_scale_pct: int = 60,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Deterministic per-epoch augmentation parameters: a random-crop
    rectangle + horizontal-flip decision per image —
    (image_id, epoch, crop_x, crop_y, crop_w, crop_h, flip).

    The vision-training counterpart of epoch_shuffle: every epoch each
    image gets fresh augmentation draws, but with NO RNG state anywhere
    — every draw is a pure function of (image_id, epoch), so a resumed
    or re-run job (plans.CheckpointedPipeline) regenerates the
    identical crops, and a worker crash never desynchronizes the
    stream. The draws ride the same exact-integer 32-bit avalanche
    family as sketches/epoch_shuffle (`_portable_h32` — wrap-free
    products, ANSI-SQL twin, bit-identical in DuckDB), one independent
    hash stream per parameter.

    Draw semantics (all integer, no float anywhere):
      scale_pct ~ uniform[min_scale_pct, 100]  (aspect-preserving)
      crop_w/h  = max(1, floor(dim * scale_pct / 100))
      crop_x    ~ uniform[0, w - crop_w]   (crop always in-bounds)
      crop_y    ~ uniform[0, h - crop_h]
      flip      ~ uniform{false, true}

    Scale shape: a zero-shuffle projection — pure Column math appended
    to the scan, exactly like text.py's one-scan metrics; pixel
    application then rides the resize_images mapInPandas path (crop is
    a slice of the decoded array) without any extra exchange because
    the rect travels WITH the row.
    """
    cols = _augment_draw_cols(epoch, min_scale_pct, id_col, w_col, h_col)
    return images.select(
        F.col(id_col).alias("image_id"),
        F.lit(epoch).cast("int").alias("epoch"),
        *[v.alias(k) for k, v in cols.items()],
    )


def _augment_draw_cols(
    epoch: int,
    min_scale_pct: int,
    id_col: str,
    w_col: str,
    h_col: str,
) -> dict[str, Column]:
    """The augment_crops draw columns keyed by output name (shared with
    crop_images so the rect applied to pixels is bit-identical to the
    one the parameter op reports)."""
    if not 1 <= min_scale_pct <= 100:
        raise ValueError(f"min_scale_pct must be in [1,100], got {min_scale_pct}")
    from .sketches import P31, _portable_h32

    def draw(stream: int) -> Column:
        salt = ((epoch + 1) * 0x9E3779B1 + stream * 0x85EBCA6B) % P31
        k = ((F.col(id_col).cast("long") % P31) + P31) % P31
        return _portable_h32(k.bitwiseXOR(F.lit(salt)))

    span = 101 - min_scale_pct
    s_pct = F.lit(min_scale_pct) + draw(0) % span
    w0, h = F.col(w_col).cast("long"), F.col(h_col).cast("long")
    # degenerate-dims guard (r5 ADVICE): w=0 or h=0 makes crop_w=1 > w,
    # so the position modulus becomes `draw % 0` — NULL in non-ANSI
    # Spark, and a NULL crop rect would flow silently downstream. Fail
    # loud in-plan instead (the interval_join band-guard idiom).
    w = F.when((w0 >= 1) & (h >= 1), w0).otherwise(
        F.assert_true(
            F.lit(False),
            F.lit(
                "augment draw: degenerate image dims — w and h must"
                " be >= 1 (filter such rows before augmenting)"
            ),
        ).cast("long")
    )
    crop_w = F.greatest(F.lit(1), F.floor(w * s_pct / 100).cast("long"))
    crop_h = F.greatest(F.lit(1), F.floor(h * s_pct / 100).cast("long"))
    return {
        "crop_x": draw(1) % (w - crop_w + 1),
        "crop_y": draw(2) % (h - crop_h + 1),
        "crop_w": crop_w,
        "crop_h": crop_h,
        "flip": draw(3) % 2 == 1,
    }


def crop_images(
    images: DataFrame,
    epoch: int,
    id_col: str = "image_id",
) -> DataFrame:
    """APPLY the per-epoch augmentation draws to real pixels: decode the
    payload (`sources/images.any_decode_fns` — no image library
    needed for PNG/JPEG), slice the crop rectangle, mirror when the flip
    draw says so, re-encode — (image_id, epoch, w, h, crop_x, crop_y,
    flip, bytes) where (w, h) are the crop dims and `bytes` is a valid
    PNG of the augmented image.

    The rect comes from the SAME draw columns augment_crops reports at
    its default 60% minimum scale (`_augment_draw_cols`), staged onto the row before the kernel, so
    the pixel stage adds NO exchange — the Arrow-batched mapInPandas
    rides the scan exactly like resize_images, but with real pixels
    end-to-end (the crop is an array slice; flip is np.fliplr — both
    exact, so the output is deterministic byte-for-byte and
    checkpoint-replayable like every draw in this family)."""
    staged = images.select(
        F.col(id_col).alias("image_id"),
        F.lit(epoch).cast("int").alias("epoch"),
        F.col("bytes").alias("__png"),
        *[
            v.alias(f"__{k}")
            for k, v in _augment_draw_cols(epoch, 60, id_col, "w", "h").items()
        ],
    )
    from ..functions import png as _png
    from ..sources.images import any_decode_fns

    # decode dispatches PNG/JPEG (r5 mixed-table support); the crop is
    # always re-encoded as lossless PNG so the augmented pixels stay
    # deterministic byte-for-byte regardless of the source format
    decode, luma = any_decode_fns()
    encode = _png.encode_gray

    def apply_crop(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {
                "image_id": [], "epoch": [], "w": [], "h": [],
                "crop_x": [], "crop_y": [], "flip": [], "bytes": [],
            }
            # itertuples mangles leading-underscore names; iterate the
            # columns directly
            cols = zip(
                pdf["image_id"], pdf["epoch"], pdf["__png"],
                pdf["__crop_x"], pdf["__crop_y"], pdf["__crop_w"],
                pdf["__crop_h"], pdf["__flip"],
            )
            for iid, ep, png_b, x, y, cw, ch, flip in cols:
                _, img = decode(bytes(png_b))
                if img.ndim == 3:
                    img = np.clip(np.rint(luma(img)), 0, 255).astype(np.uint8)
                x, y, cw, ch = int(x), int(y), int(cw), int(ch)
                sub = img[y:y + ch, x:x + cw]
                if bool(flip):
                    sub = np.fliplr(sub)
                out["image_id"].append(iid)
                out["epoch"].append(ep)
                out["w"].append(cw)
                out["h"].append(ch)
                out["crop_x"].append(x)
                out["crop_y"].append(y)
                out["flip"].append(bool(flip))
                out["bytes"].append(encode(np.ascontiguousarray(sub)))
            yield pd.DataFrame(out)

    schema = (
        "image_id long, epoch int, w int, h int, crop_x int, crop_y int, "
        "flip boolean, bytes binary"
    )
    return staged.mapInPandas(apply_crop, schema=schema)


def resize_images(images: DataFrame, max_side: int) -> DataFrame:
    """Resize stage: Arrow-batched mapInPandas over the binary payload.

    Dimension math is real (resize_dims); the pixel resample is a
    deterministic fake — output bytes are the input truncated
    proportionally to the pixel-count ratio. Kept because the registry
    row `multimodal_resize` feeds it caption-text bytes, which no codec
    can decode. Output: (image_id, w, h, fmt, caption, phash, bytes)."""
    out_w, out_h = resize_dims(F.col("w"), F.col("h"), max_side)
    staged = images.select(
        "image_id", "bytes", "fmt", "caption", "phash",
        F.col("w").alias("__w0"), F.col("h").alias("__h0"),
        out_w.alias("w"), out_h.alias("h"),
    )

    def fake_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def clip(row):
                b = row["bytes"]
                if b is None:
                    return None
                denom = max(int(row["__w0"]) * int(row["__h0"]), 1)
                n = max(1, (len(b) * int(row["w"]) * int(row["h"])) // denom)
                return b[:n]

            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "w": pdf["w"].astype("int32"),
                    "h": pdf["h"].astype("int32"),
                    "fmt": pdf["fmt"],
                    "caption": pdf["caption"],
                    "phash": pdf["phash"],
                    "bytes": pdf.apply(clip, axis=1),
                }
            )

    schema = (
        "image_id string, w int, h int, fmt string, caption string, "
        "phash long, bytes binary"
    )
    return staged.mapInPandas(fake_resize, schema=schema)


def resize_images_real(
    images: DataFrame, max_side: int, id_col: str = "image_id"
) -> DataFrame:
    """REAL pixel resize for PNG + baseline-JPEG payloads (r5 — closes
    the resize half of the r3 'pixel kernels are deterministic fakes'
    note now that both codecs decode from spec): decode by magic-byte
    dispatch, resample on the exact integer grid src = dst*src_dim //
    dst_dim (the mosaic thumbnail rule — nearest neighbor, identical
    for up/downscale, so a constant image stays constant and results
    are bit-deterministic with no float resampling kernel), re-encode
    LOSSLESS PNG (gray in -> gray out, color in -> color out) so the
    resized bytes are exactly reproducible whatever the input format.

    Output: (image_id, w, h, fmt='png', bytes) with the new dims;
    aspect ratio preserved via resize_dims (no-op rows pass through
    re-encoded). Scale shape: one Arrow-batched mapInPandas pass with
    the codecs shipped by value — zero shuffle, the flagship decode
    stage's shape.
    """
    from ..sources.images import any_decode_fns

    if max_side < 1:
        raise ValueError(f"resize_images_real: max_side must be >= 1, got {max_side}")
    decode, _luma = any_decode_fns()
    from ..functions import png as _png

    enc_gray, enc_rgb = _png.encode_gray, _png.encode_rgb
    cols = images.select(F.col(id_col).cast("string").alias("image_id"), "bytes")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"image_id": [], "w": [], "h": [], "fmt": [], "bytes": []}
            for iid, payload in zip(pdf["image_id"], pdf["bytes"]):
                _, img = decode(bytes(payload))
                h0, w0 = img.shape[:2]
                side = max(w0, h0)
                if side > max_side:
                    # floor-scale both dims, min 1 (resize_dims rule)
                    w1 = max(1, (w0 * max_side) // side)
                    h1 = max(1, (h0 * max_side) // side)
                else:
                    w1, h1 = w0, h0
                ys = (np.arange(h1) * h0) // h1
                xs = (np.arange(w1) * w0) // w1
                small = img[np.ix_(ys, xs)]
                if small.shape[2] == 1:
                    payload_out = enc_gray(small[:, :, 0])
                else:
                    payload_out = enc_rgb(small[:, :, :3])
                out["image_id"].append(iid)
                out["w"].append(w1)
                out["h"].append(h1)
                out["fmt"].append("png")
                out["bytes"].append(payload_out)
            yield pd.DataFrame(out)

    return cols.mapInPandas(
        kernel, schema="image_id string, w int, h int, fmt string, bytes binary"
    )


def sample_frames(videos: DataFrame, every_n: int) -> DataFrame:
    """Frame-sampling stage — PURE Column math, zero Python.

    Treats the binary payload as a frame container: frame count derives
    deterministically from the payload hash (1 + phash % 240 — a
    real container would read it from the header), every `every_n`-th
    frame index is emitted via sequence + posexplode (whole-stage
    codegen), each with its byte offset into the payload. The per-frame
    DECODE that would follow is the mapInPandas stage of
    `sources/images.decode_codec_meta`.
    Returns (image_id, frame_idx, n_frames, byte_off)."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    n_frames = (F.lit(1) + F.pmod(F.col("phash"), F.lit(240))).cast("int")
    staged = videos.select(
        "image_id",
        n_frames.alias("n_frames"),
        F.length("bytes").cast("long").alias("n_bytes"),
    )
    idxs = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
    return staged.select(
        "image_id",
        "n_frames",
        "n_bytes",
        F.explode(idxs).alias("frame_idx"),
    ).select(
        "image_id",
        "frame_idx",
        "n_frames",
        (F.col("frame_idx") * F.floor(F.col("n_bytes") / F.col("n_frames")).cast("long")).alias("byte_off"),
    )


def extract_features(images: DataFrame, dim: int = 64) -> DataFrame:
    """Feature-extraction stage: Arrow-batched mapInPandas producing an
    `array<float>` embedding column (the input shape for the ANN / near-
    dup operators). The embedding is a deterministic fake derived from
    phash, in portable integer math the gate oracle reproduces; kept
    because the registry row `multimodal_features` feeds it caption-text
    bytes, which no codec can decode. Returns (image_id, embedding)."""

    def fake_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # +1 keeps the vector nonzero (cosine downstream divides by norm)
            base = pdf["phash"].to_numpy("int64") % FEATURE_MOD_A + 1  # (n,)
            i = np.arange(1, dim + 1, dtype="int64")  # (dim,)
            vals = (base[:, None] * i[None, :]) % FEATURE_MOD_B / float(FEATURE_MOD_B)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "embedding": list(vals.astype("float64")),
                }
            )

    return images.select("image_id", "phash", "bytes").mapInPandas(
        fake_encode, schema="image_id string, embedding array<double>"
    )


def mosaic_tiles(
    images: DataFrame,
    res: int,
    grid: int = 4,
    thumb: int = 32,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "image_id",
    order_col: str | None = None,
) -> DataFrame:
    """Per-map-tile CONTACT SHEET: pick the first grid² images of every
    occupied cell (deterministic order), DECODE each PNG payload with
    the from-spec codec, nearest-neighbor-resample its luma to a
    thumb×thumb thumbnail, paste row-major into one (grid·thumb)²
    grayscale mosaic, and re-encode as PNG — the visual-QA artifact a
    10^12-image corpus needs per tile (eyeball a region's training data
    without pulling the region's rows).

    Scale shape: cell assignment and the per-cell top-k are pure
    Column/window ops — `row_number() <= grid²` compiles to
    WindowGroupLimit, so each map task pre-trims to grid² rows per cell
    BEFORE the exchange; the shuffle carries at most grid²·cells rows
    of (small) image payloads, independent of corpus size. The paste
    kernel is groupBy(cell).applyInPandas over groups bounded at grid²
    rows — executor memory is bounded by the mosaic contract
    (grid²·thumb² + payload bytes), never by the data. Decode/encode use
    the codecs shipped by value (no repo on executor paths).

    Nearest-neighbor index math is exact integer floor division
    (src_row = y·h // thumb), identical for up- and down-sampling, so a
    constant-valued source stays constant through the thumbnail — the
    property the arithmetic oracle rides.

    Returns (cell:long, n_imgs:int, w:int, h:int, png:binary).
    """
    if grid < 1 or thumb < 1:
        raise ValueError(f"need grid, thumb >= 1, got {grid}, {thumb}")
    from pyspark.sql import Window

    from ..functions.cells import cell_id
    from ..functions import png as _png
    from ..sources.images import any_decode_fns

    _any_decode, _any_luma = any_decode_fns()  # r5: mixed PNG+JPEG in

    k = grid * grid
    side = grid * thumb
    order = [F.col(order_col)] if order_col else []
    w_rank = Window.partitionBy("cell").orderBy(*order, F.col(id_col))
    ranked = (
        images.withColumn(
            "cell", cell_id(F.col(lon_col), F.col(lat_col), res)
        )
        .withColumn("__rk", F.row_number().over(w_rank))
        .filter(F.col("__rk") <= k)
        .select("cell", "__rk", "bytes")
    )

    def paste(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mosaic = np.zeros((side, side), np.uint8)
        n = 0
        for rk, payload in zip(pdf["__rk"], pdf["bytes"]):
            img = _any_luma(_any_decode(bytes(payload))[1])
            h, w = img.shape
            ys = np.arange(thumb) * h // thumb
            xs = np.arange(thumb) * w // thumb
            th = np.clip(np.rint(img[np.ix_(ys, xs)]), 0, 255).astype(np.uint8)
            slot = int(rk) - 1
            r, c = (slot // grid) * thumb, (slot % grid) * thumb
            mosaic[r:r + thumb, c:c + thumb] = th
            n += 1
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "n_imgs": [n],
                "w": [side],
                "h": [side],
                "png": [_png.encode_gray(mosaic)],
            }
        )

    return ranked.groupBy("cell").applyInPandas(
        paste, schema="cell long, n_imgs int, w int, h int, png binary"
    )


def image_dhash(images: DataFrame, grid: int = 8) -> DataFrame:
    """Difference hash (dHash) over REAL decoded pixels: decode each
    payload (`sources/images.any_decode_fns`), area-reduce
    the luma to a (grid+1)×grid block grid by EXACT integer block sums,
    and emit one bit per horizontally adjacent block pair
    (bit = 1 iff left sum > right sum) — the standard gradient-structure
    perceptual hash, exact end to end (no float resampler), so a SQL
    oracle can recompute every bit from the source pixel arithmetic.

    The 64 bits (grid=8) pack into TWO int32-range longs — rows 0..3
    into `dhash_hi`, rows 4..7 into `dhash_lo`, MSB-first row-major —
    because a single int64 would need bit 63 (sign wrap differs across
    engines). The halves double as band keys for banded near-dup
    equi-joins (the phash_near_dup shape: bucket on a half, verify by
    Hamming distance on both).

    Contract: image width must divide by grid+1 and height by grid
    (exact blocks — the point is bit-exactness; run resize first
    otherwise). Violations fail LOUD per row.

    Scale shape: embarrassingly parallel mapInPandas over the payload
    column, zero shuffle; output is 3 longs per image.

    Returns (image_id, w, h, dhash_hi, dhash_lo).
    """
    if not 1 <= grid <= 15:
        raise ValueError(f"grid must be 1..15 (2*grid*grid bits <= 62 per half), got {grid}")
    from ..sources.images import any_decode_fns

    _decode, _luma = any_decode_fns()  # r5: mixed PNG+JPEG tables

    cols = images.select("image_id", "bytes")
    half = (grid * grid) // 2  # bits per output half (row-major split)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"image_id": [], "w": [], "h": [],
                   "dhash_hi": [], "dhash_lo": []}
            for iid, payload in zip(pdf["image_id"], pdf["bytes"]):
                img = _luma(_decode(bytes(payload))[1])
                h, w = img.shape
                if w % (grid + 1) or h % grid:
                    raise ValueError(
                        f"image_dhash: dims {w}x{h} not divisible by "
                        f"{grid + 1}x{grid} (image_id={iid})"
                    )
                bw, bh = w // (grid + 1), h // grid
                sums = (
                    img.astype(np.int64)
                    .reshape(grid, bh, grid + 1, bw)
                    .sum(axis=(1, 3))
                )
                bits = (sums[:, :-1] > sums[:, 1:]).ravel()  # row-major
                acc_hi = acc_lo = 0
                for i, b in enumerate(bits):
                    if i < half:
                        acc_hi = (acc_hi << 1) | int(b)
                    else:
                        acc_lo = (acc_lo << 1) | int(b)
                out["image_id"].append(iid)
                out["w"].append(w)
                out["h"].append(h)
                out["dhash_hi"].append(acc_hi)
                out["dhash_lo"].append(acc_lo)
            yield pd.DataFrame(out)

    id_type = images.schema["image_id"].dataType.simpleString()
    return cols.mapInPandas(
        kernel,
        f"image_id {id_type}, w int, h int, dhash_hi long, dhash_lo long",
    )


def _check_ladder(ladder: list[tuple[int, int]]) -> int:
    """Validate an aspect ladder and return L = lcm of the bucket
    heights (the common scale that makes cross-bucket distance
    comparison exact integer math)."""
    import math

    if len(ladder) < 1:
        raise ValueError("ladder must have at least one (w, h) bucket")
    for bw, bh in ladder:
        if not (1 <= bw <= 4096 and 1 <= bh <= 4096):
            raise ValueError(f"bucket sides must be in [1, 4096], got ({bw}, {bh})")
    lcm = math.lcm(*[bh for _, bh in ladder])
    if lcm > (1 << 28):
        raise ValueError(
            f"lcm of bucket heights is {lcm} > 2^28 — scores would risk "
            "64-bit overflow; use a ladder with more harmonious heights"
        )
    return lcm


def assign_aspect_buckets(
    images: DataFrame,
    ladder: list[tuple[int, int]],
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Assign each image to the aspect-ratio bucket nearest its own
    ratio — the standard variable-aspect training trick (group images
    of similar shape so a batch crops/pads minimally; the bucket ladder
    is the SDXL-style list of (width, height) training resolutions).

    Nearest is by |w/h - bw/bh|, decided in EXACT integer arithmetic:
    |w/h - bw/bh| = |w·bh - h·bw| / (h·bh), the per-image h cancels
    across candidates, and multiplying by L/bh (L = lcm of ladder
    heights) puts all candidates on one integer scale — no float
    rounding at bucket boundaries, ties break to the lower ladder
    index. One array_min over a plan-time-literal struct array: pure
    Column math, zero shuffle, and an exact ANSI-SQL twin (argmin =
    ROW_NUMBER over score, idx). Assumes integer image sides < 2^20
    (scores stay < 2^62).

    Adds bucket_idx / bucket_w / bucket_h.
    """
    lcm = _check_ladder(ladder)
    w = F.col(w_col).cast("long")
    h = F.col(h_col).cast("long")
    entries = F.array(
        *[
            F.struct(
                (F.abs(w * bh - h * bw) * F.lit(lcm // bh)).alias("score"),
                F.lit(i).alias("idx"),
                F.lit(bw).alias("bw"),
                F.lit(bh).alias("bh"),
            )
            for i, (bw, bh) in enumerate(ladder)
        ]
    )
    best = F.array_min(entries)
    return images.select(
        "*",
        best["idx"].alias("bucket_idx"),
        best["bw"].alias("bucket_w"),
        best["bh"].alias("bucket_h"),
    )


def aspect_bucket_batches(
    images: DataFrame,
    ladder: list[tuple[int, int]],
    batch_size: int,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
) -> DataFrame:
    """Deterministic fixed-size training batches within aspect buckets:
    every image gets (bucket_idx, batch_id, slot) with slot in
    [0, batch_size) and batches filled in `id_col` order. The composite
    (bucket_idx, batch_id) is the batch key a loader shards on.

    Scale shape: the per-bucket ordinal comes from functions/zipindex
    dense_index — ONE balanced range shuffle + a broadcast of
    per-(partition, bucket) offsets — NOT a row_number window
    partitioned by bucket, which would serialize each bucket (a ~20-row
    ladder over 10^12 images = 10^11-row single-task sorts). The ragged
    tail of each bucket is dropped via a broadcast of per-bucket counts.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    from osmium_tool_spark.functions.zipindex import dense_index

    a = assign_aspect_buckets(images, ladder, w_col=w_col, h_col=h_col)
    idx = dense_index(
        a, [F.col(id_col)], part_col="bucket_idx", index_name="__ord"
    )
    rn = F.col("__ord") - 1
    # exact integer division: (rn - rn % b) is a multiple of b, so the
    # double divide is exact for rn < 2^53 (plain rn/b + floor would
    # round through the double for large rn and non-power-of-two b)
    batch_id = ((rn - rn % batch_size) / batch_size).cast("long")
    out = idx.withColumn("batch_id", batch_id).withColumn(
        "slot", (rn % batch_size).cast("long")
    )
    counts = a.groupBy("bucket_idx").agg(F.count("*").alias("__bc"))
    keep_below = (F.col("__bc") - F.col("__bc") % batch_size).cast("long")
    return (
        out.join(F.broadcast(counts), "bucket_idx")
        .filter(F.col("__ord") <= keep_below)
        .drop("__bc", "__ord")
    )


def dhash_bit_vector(hi: Column, lo: Column) -> Column:
    """Unpack the two 32-bit dhash halves (image_dhash packing: bit i
    is the MSB-first position, i<32 in `hi`, else in `lo`) into a
    64-dim ±1.0 double array — the image-side vector for
    caption–image alignment scoring. Statically unrolled Column math
    (shift counts are plan-time literals), zero Python."""
    vals = []
    for i in range(64):
        half, sh = (hi, 31 - i) if i < 32 else (lo, 63 - i)
        b = F.shiftright(half.cast("long"), sh).bitwiseAND(F.lit(1))
        vals.append((b * 2 - 1).cast("double"))
    return F.array(*vals)


def alignment_scores(
    pairs: DataFrame,
    img_vec_col: str,
    txt_vec_col: str,
    score_col: str = "alignment",
) -> DataFrame:
    """CLIP-score-shaped caption–image alignment: cosine between the
    image-side and text-side vectors of each pair, as a projection —
    zero shuffle, whole-stage codegen (similarity.dot's sequential
    fold, so the score is bit-stable vs the SQL twin). Real deployments
    swap the model-produced embeddings into the same two columns; the
    filtering/scoring plumbing is identical."""
    from osmium_tool_spark.operators.similarity import cosine

    return pairs.withColumn(
        score_col, cosine(F.col(img_vec_col), F.col(txt_vec_col))
    )


def png_pixel_checksums(images: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Exact integer pixel checksums of PNG payloads: passthrough of all
    non-binary columns plus (px_sum, px_wsum) — the plain sum of pixel
    values and the column-weighted sum sum(pixel * (x+1)). Together the
    pair pins WHICH pixels a producing stage emitted and in WHAT
    horizontal order (a mirrored crop keeps px_sum but flips px_wsum),
    while staying pure integer arithmetic a SQL oracle can recompute
    from the source pattern — the verification hook that lets real
    pixel stages (crop_images, mosaic) be driver-gated end-to-end.
    Arrow-batched mapInPandas with the from-spec codec shipped by
    value; one pass, no shuffle."""
    from ..sources.images import any_decode_fns

    decode, luma = any_decode_fns()  # r5: mixed PNG+JPEG tables
    keep = [c for c in images.columns if c != bytes_col]

    def sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {c: pdf[c] for c in keep}
            ps, ws = [], []
            for b in pdf[bytes_col]:
                _, img = decode(bytes(b))
                if img.ndim == 3:
                    img = img[:, :, 0] if img.shape[2] == 1 else luma(img)
                a = img.astype(np.int64)
                ps.append(int(a.sum()))
                ws.append(int((a * (np.arange(a.shape[1]) + 1)).sum()))
            out["px_sum"] = ps
            out["px_wsum"] = ws
            yield pd.DataFrame(out)

    keep_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in images.schema.fields
        if f.name != bytes_col
    )
    return images.mapInPandas(
        sums, schema=f"{keep_schema}, px_sum long, px_wsum long"
    )
