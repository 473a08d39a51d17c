"""Per-row invariant checks for the image graft (BASELINE.json
input_hint): decoded-pixel allclose — PSNR >= 40 dB for lossy formats,
exact for lossless — plus caption equality.

These run after any transform that re-encodes payloads (format
conversion, thumbnailing, re-compression): join the before/after decoded
tables on image_id and emit VIOLATIONS (empty result = invariant holds).
All math is Column expressions over pixel arrays (array<double> of
flattened samples) — at 10^12 rows this is one equi-join plus codegen'd
folds, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LOSSY_FMTS = ("jpeg", "webp")


def mse(a: Column, b: Column) -> Column:
    """Mean squared error between two equal-length sample arrays."""
    sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    total = F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)
    return total / F.size(a)


def psnr(a: Column, b: Column) -> Column:
    """Peak signal-to-noise ratio in dB of 8-bit samples (peak 255);
    infinity (NULL here) when MSE=0."""
    m = mse(a, b)
    return F.when(m == 0, F.lit(None).cast("double")).otherwise(
        10.0 * F.log10(F.lit(255.0 * 255.0) / m)
    )


def pixel_invariant_violations(
    before: DataFrame,
    after: DataFrame,
    min_psnr_db: float = 40.0,
    id_col: str = "image_id",
    pixels_col: str = "pixels",
    fmt_col: str = "fmt",
    caption_col: str = "caption",
) -> DataFrame:
    """Rows violating the decode invariant.

    Lossless formats must match exactly (MSE == 0); lossy formats need
    PSNR >= min_psnr_db; captions must be equal; size mismatches and rows
    missing on either side are violations too. Returns
    (image_id, reason, psnr_db)."""
    b = before.select(
        F.col(id_col).alias("id"),
        F.col(pixels_col).alias("pa"),
        F.col(fmt_col).alias("fmt"),
        F.col(caption_col).alias("ca"),
    )
    a = after.select(
        F.col(id_col).alias("id"),
        F.col(pixels_col).alias("pb"),
        F.col(caption_col).alias("cb"),
    )
    j = b.join(a, on="id", how="full_outer")
    m = mse(F.col("pa"), F.col("pb"))
    p = psnr(F.col("pa"), F.col("pb"))
    lossy = F.col("fmt").isin(*LOSSY_FMTS)
    reason = (
        F.when(F.col("pa").isNull() | F.col("pb").isNull(), F.lit("missing_row"))
        .when(F.size("pa") != F.size("pb"), F.lit("size_mismatch"))
        .when(~F.col("ca").eqNullSafe(F.col("cb")), F.lit("caption_mismatch"))
        .when(~lossy & (m > 0), F.lit("lossless_pixels_differ"))
        .when(lossy & (m > 0) & (p < min_psnr_db), F.lit("psnr_below_threshold"))
    )
    return j.select(
        F.col("id").alias("image_id"), reason.alias("reason"), p.alias("psnr_db")
    ).filter(F.col("reason").isNotNull())
