"""hexbin (operators/hexbin.py): exact nearest-center assignment."""

import math
import random

import pytest

from pyspark.sql import functions as F

from osmium_tool_spark.operators.hexbin import hex_center_cols, hexbin_counts

W = 50_000_000
H = 86_602_540  # round(W * sqrt(3))


def py_center(x, y, w=W, h=H):
    def rdiv(v, d):
        return (v + d // 2) // d  # floor((v + d/2)/d), exact ints

    ax, ay = rdiv(x, 2 * w) * 2 * w, rdiv(y, 2 * h) * 2 * h
    bx = rdiv(x - w, 2 * w) * 2 * w + w
    by = rdiv(y - h, 2 * h) * 2 * h + h
    da = (x - ax) ** 2 + (y - ay) ** 2
    db = (x - bx) ** 2 + (y - by) ** 2
    return (ax, ay) if da <= db else (bx, by)


def test_matches_python_and_is_global_argmin(spark):
    rng = random.Random(37)
    rows = [
        (
            i,
            rng.randrange(-1800000000, 1800000000),
            rng.randrange(-900000000, 900000000),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, lon long, lat long")
    cx, cy = hex_center_cols(F.col("lon"), F.col("lat"), W, H)
    out = df.select("id", "lon", "lat", cx.alias("cx"), cy.alias("cy")).collect()
    for r in out:
        assert (r.cx, r.cy) == py_center(r.lon, r.lat), (r.lon, r.lat)
        # the chosen center must be the true nearest lattice point:
        # brute-force every lattice point in a 3x3 block neighborhood
        best = None
        for a in range(r.lon // (2 * W) - 2, r.lon // (2 * W) + 3):
            for b in range(r.lat // (2 * H) - 2, r.lat // (2 * H) + 3):
                for gx, gy in ((2 * a * W, 2 * b * H),
                               ((2 * a + 1) * W, (2 * b + 1) * H)):
                    d = (r.lon - gx) ** 2 + (r.lat - gy) ** 2
                    if best is None or d < best:
                        best = d
        got = (r.lon - r.cx) ** 2 + (r.lat - r.cy) ** 2
        assert got == best, (r.lon, r.lat)


def test_lattice_is_hexagonal():
    # every center has exactly 6 equidistant-ish nearest neighbors and
    # the two grids interleave: A->B neighbor distance < A->A
    d_ab = W * W + H * H  # (W, H) offset
    d_aa = (2 * W) ** 2  # (2W, 0) offset
    assert d_ab < d_aa < 3 * d_ab  # proper hex tiling regime (W < H < 3W)
    assert abs(H - W * math.sqrt(3)) < 1  # regular within rounding


def test_counts_and_measure(spark):
    rows = [(i, (i % 7) * 10, (i % 5) * 10) for i in range(70)]
    df = spark.createDataFrame(rows, "id long, lon long, lat long")
    out = hexbin_counts(df, w=W, h=H).collect()
    # all points are near the origin -> one cell at (0, 0)
    assert len(out) == 1
    assert (out[0].cx, out[0].cy, out[0].n) == (0, 0, 70)


def test_validation(spark):
    with pytest.raises(ValueError):
        hex_center_cols(F.col("lon"), F.col("lat"), 0, 10)
