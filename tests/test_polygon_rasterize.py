"""polygon_rasterize: scanline vector->raster conversion.

Semantics under test (reference analog: extract_polygon.cpp's y-band
segment index; center-inside even-odd over pooled rings):
  - closed-form diamond parity over the full bbox grid
  - even-odd hole exclusion (two rings)
  - numpy raycast-kernel parity on a random star polygon (concave)
  - a polygon spanning many rows / the (poly_id, cy) repartition path
  - loud failure when the bbox exceeds the cell cap
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.tiles import polygon_rasterize

D = 10_000_000  # 1 degree fixed-point
LON_MIN, LAT_MIN = -1_800_000_000, -900_000_000
LON_SPAN, LAT_SPAN = 3_600_000_000, 1_800_000_000


def _pt(x, y):
    return F.struct(
        F.lit(int(x)).cast("long").alias("x"),
        F.lit(int(y)).cast("long").alias("y"),
    )


def _poly(spark, rings):
    return spark.range(1).select(
        F.col("id").alias("poly_id"),
        F.array(*[F.array(*[_pt(x, y) for x, y in r]) for r in rings]).alias(
            "rings"
        ),
    )


def _center(cx, cy, n):
    return (
        2 * n * LON_MIN + (2 * cx + 1) * LON_SPAN,
        2 * n * LAT_MIN + (2 * cy + 1) * LAT_SPAN,
    )


def _cells(df):
    return {(r.cx, r.cy) for r in df.collect()}


def _diamond(cx0, cy0, r):
    return [(cx0 + r, cy0), (cx0, cy0 + r), (cx0 - r, cy0), (cx0, cy0 - r),
            (cx0 + r, cy0)]


def test_diamond_closed_form_full_grid(spark):
    res, n, r = 9, 512, 5 * D
    got = _cells(polygon_rasterize(_poly(spark, [_diamond(0, 0, r)]), res=res))
    assert len(got) > 100
    for cx in range(230, 282):
        for cy in range(230, 282):
            px, py = _center(cx, cy, n)
            assert (abs(px) + abs(py) < 2 * n * r) == ((cx, cy) in got)


def test_hole_even_odd(spark):
    res, n = 9, 512
    outer, inner = 5 * D, 2 * D
    got = _cells(
        polygon_rasterize(
            _poly(spark, [_diamond(0, 0, outer), _diamond(0, 0, inner)]),
            res=res,
        )
    )
    for cx, cy in got:
        px, py = _center(cx, cy, n)
        sd = abs(px) + abs(py)
        assert sd < 2 * n * outer and sd >= 2 * n * inner


def test_star_polygon_raycast_parity(spark):
    # concave star: radius alternates, vertices sorted by angle -> simple
    rng = np.random.default_rng(5)
    res, n = 9, 512
    angles = np.sort(rng.uniform(0, 2 * np.pi, 14))
    radii = np.where(np.arange(14) % 2 == 0, 6 * D, int(2.5 * D))
    vx = (radii * np.cos(angles)).astype(np.int64)
    vy = (radii * np.sin(angles)).astype(np.int64)
    ring = list(zip(vx.tolist(), vy.tolist()))
    ring.append(ring[0])
    got = _cells(polygon_rasterize(_poly(spark, [ring]), res=res))

    # numpy twin of the engine's strict raycast in 2n-scaled space
    a = np.array(ring, dtype=np.int64) * 2 * n
    x1, y1, x2, y2 = a[:-1, 0], a[:-1, 1], a[1:, 0], a[1:, 1]
    exp = set()
    for cx in range(220, 292):
        for cy in range(220, 292):
            px, py = _center(cx, cy, n)
            straddle = (y1 > py) != (y2 > py)
            ax, ay = x1 - x2, y1 - y2
            comp = (px - x2).astype(object) * ay < ax * (py - y2).astype(object)
            if (straddle & ((ay > 0) == comp)).sum() % 2 == 1:
                exp.add((cx, cy))
    assert got == exp


def test_tall_thin_many_bands(spark):
    # 0.6deg-wide, 40deg-tall rectangle: ~1 cell wide, ~114 bands at res 9
    rect = [(0, -20 * D), (6 * D // 10, -20 * D), (6 * D // 10, 20 * D),
            (0, 20 * D), (0, -20 * D)]
    got = _cells(polygon_rasterize(_poly(spark, [rect]), res=9))
    n = 512
    cys = {cy for _, cy in got}
    # every band the rectangle's interior spans is present
    assert len(cys) > 100
    for cx, cy in got:
        px, py = _center(cx, cy, n)
        assert 0 < px < 2 * n * (6 * D // 10)
        assert -2 * n * 20 * D < py < 2 * n * 20 * D


def test_bbox_cap_fails_loud(spark):
    # a world-spanning bbox at res 13 covers more than 2^24 cells
    df = _poly(spark, [_diamond(0, 0, 90 * D)])
    with pytest.raises(Exception, match="covers more than"):
        polygon_rasterize(df, res=13).collect()


class TestPolygonOverlap:
    S = 10_000_000

    def _squares(self, spark, specs):
        from pyspark.sql import functions as F

        def pt(x, y):
            return F.struct(
                F.lit(x).cast("long").alias("x"), F.lit(y).cast("long").alias("y")
            )

        rows = []
        for pid, x0, y0, w in specs:
            rows.append((pid, x0, y0, w))
        df = spark.createDataFrame(rows, "poly_id long, x0 long, y0 long, w long")
        ring = F.array(
            F.struct(F.col("x0").alias("x"), F.col("y0").alias("y")),
            F.struct((F.col("x0") + F.col("w")).alias("x"), F.col("y0").alias("y")),
            F.struct((F.col("x0") + F.col("w")).alias("x"), (F.col("y0") + F.col("w")).alias("y")),
            F.struct(F.col("x0").alias("x"), (F.col("y0") + F.col("w")).alias("y")),
            F.struct(F.col("x0").alias("x"), F.col("y0").alias("y")),
        )
        return df.select("poly_id", F.array(ring).alias("rings"))

    def test_identical_layers_self_iou_one(self, spark):
        from osmium_tool_spark.operators.tiles import polygon_overlap

        # two far-apart squares: no cross pairs, each self-pair iou 1.0
        a = self._squares(spark, [(1, 0, 0, 40 * self.S), (2, 90 * self.S, 0, 40 * self.S)])
        out = polygon_overlap(a, a, res=8, id_a="id_a", id_b="id_b").collect()
        assert sorted((r.id_a, r.id_b) for r in out) == [(1, 1), (2, 2)]
        assert all(r.iou == 1.0 and r.n_shared == r.n_a == r.n_b for r in out)

    def test_partial_overlap_counts(self, spark):
        from osmium_tool_spark.operators.tiles import polygon_overlap

        w = 64 * self.S
        a = self._squares(spark, [(1, 0, 0, w)])
        b = self._squares(spark, [(7, w // 2, 0, w)])  # right half overlaps
        r = polygon_overlap(a, b, res=8, id_a="id_a", id_b="id_b").collect()[0]
        assert (r.id_a, r.id_b) == (1, 7)
        assert 0 < r.n_shared < r.n_a
        # cell-count overlap of a half-offset equal square ~ half the area
        assert abs(r.n_shared / r.n_a - 0.5) < 0.15
        assert abs(r.iou - r.n_shared / (r.n_a + r.n_b - r.n_shared)) < 1e-15
