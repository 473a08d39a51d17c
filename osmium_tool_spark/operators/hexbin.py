"""Hexagonal binning: exact nearest-center hex cell assignment.

The viz-standard density aggregation (hexbin maps) next to the square
cell families in functions/cells.py. A hex lattice is the union of two
interleaved rectangular grids — grid A at (2i·W, 2j·H), grid B at
((2i+1)·W, (2j+1)·H) — and the nearest lattice point overall is the
nearer of "nearest A point" and "nearest B point" (each one integer
rounding), so the whole assignment is EXACT integer fixed-point math:
squared distances compared as int64, no trig, no floats beyond two
correctly-rounded floor divisions. With H ≈ W·√3 the Voronoi cells of
the lattice are regular pointy-top hexagons; any integer (W, H) with
W < H < 3W still yields a proper hexagonal tiling (the cells are the
lattice's Voronoi regions by construction — the ratio only shapes
them), which is what lets the arithmetic stay exact.

Scale shape: the assignment is a pure zero-shuffle projection; the
count aggregation is one hash-agg keyed by center (map-side partials).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _round_div(x: Column, d: int) -> Column:
    """round(x / d) to the nearest integer (half up), exact for int64
    inputs: floor((x + d/2) / d) with one correctly-rounded double
    division (same argument as functions/cells._ix — quotients are
    always >= 1/(2d) away from the wrong integer while ulp is ~1e-11
    at world scale)."""
    return F.floor((x + d // 2) / F.lit(float(d))).cast("long")


def hex_center_cols(
    lon: Column, lat: Column, w: int, h: int
) -> tuple[Column, Column]:
    """Fixed-point (cx, cy) of the nearest hex center for each point.
    ``w``/``h`` are the half-spacings in fixed-point units (EVEN ints;
    centers sit at (2i·w, 2j·h) and ((2i+1)·w, (2j+1)·h)). Ties go to
    the even (A) grid — mirrored verbatim in the SQL oracle."""
    if w <= 0 or h <= 0:
        raise ValueError(f"need positive half-spacings, got {w}, {h}")
    x, y = lon.cast("long"), lat.cast("long")
    ax = _round_div(x, 2 * w) * (2 * w)
    ay = _round_div(y, 2 * h) * (2 * h)
    bx = _round_div(x - w, 2 * w) * (2 * w) + w
    by = _round_div(y - h, 2 * h) * (2 * h) + h
    da = (x - ax) * (x - ax) + (y - ay) * (y - ay)
    db = (x - bx) * (x - bx) + (y - by) * (y - by)
    use_a = da <= db
    return (
        F.when(use_a, ax).otherwise(bx),
        F.when(use_a, ay).otherwise(by),
    )


def hexbin_counts(
    points: DataFrame,
    w: int,
    h: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(cx, cy, n) — point count per hex cell. One projection + one hash
    aggregate."""
    cx, cy = hex_center_cols(F.col(lon_col), F.col(lat_col), w, h)
    staged = points.select(cx.alias("cx"), cy.alias("cy"))
    return staged.groupBy("cx", "cy").agg(F.count("*").alias("n"))
