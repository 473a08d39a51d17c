"""Many-polygon spatial join (cell-index equi-join + interior shortcut).

The gate row (600 diamonds vs the DuckDB closed-form oracle) covers
end-to-end correctness; these tests pin what the oracle can't see: the
interior shortcut actually fires for large polygons (and its rows are
bit-identical to the verify path), the loud over-cap error, payload
passthrough, and parity with the capped assign_extracts machinery on a
shared region set.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

RINGS = "poly_id long, rings array<array<struct<x:long,y:long>>>"


def _diamond(cx, cy, r):
    return [
        {"x": cx + r, "y": cy},
        {"x": cx, "y": cy + r},
        {"x": cx - r, "y": cy},
        {"x": cx, "y": cy - r},
        {"x": cx + r, "y": cy},
    ]


def _points(spark):
    from osmium_tool_spark.sources import testdata as td

    return td.nodes_from_part(spark, SF_DIR).select("id", "lon", "lat")


def test_matches_assign_extracts(spark):
    from osmium_tool_spark.functions.geometry import Extract
    from osmium_tool_spark.operators.extract import assign_extracts
    from osmium_tool_spark.operators.spatial_join import spatial_join

    polys, extracts = [], []
    for k in range(25):
        cx = (k * 2654435761) % 3_200_000_000 - 1_600_000_000
        cy = (k * 2246822519) % 1_600_000_000 - 800_000_000
        r = 50_000_000 + (k % 5) * 10_000_000
        polys.append((k, [_diamond(cx, cy, r)]))
        ring = np.array([[p["x"], p["y"]] for p in polys[-1][1][0]], dtype=np.int64)
        extracts.append(Extract.polygon(k, [ring]))
    pdf = spark.createDataFrame(polys, RINGS)
    pts = _points(spark)
    got = set(map(tuple, spatial_join(pts, pdf, res=6).select("poly_id", "id").collect()))
    exp = {(r_.extract_id, r_.id) for r_ in assign_extracts(pts, extracts).collect()}
    assert got == exp


def test_interior_shortcut_fires_and_is_exact(spark):
    """A big polygon at high res has interior cells; accepting them without
    ray-casting must give the same pairs as the all-boundary (low-res) run."""
    from osmium_tool_spark.operators.spatial_join import (
        build_polygon_cell_index,
        spatial_join,
    )

    big = spark.createDataFrame([(7, [_diamond(0, 0, 800_000_000)])], RINGS)
    idx_hi = build_polygon_cell_index(big, res=8)
    assert idx_hi.filter("interior").count() > 0  # the shortcut is live
    pts = _points(spark)
    hi = set(map(tuple, spatial_join(pts, big, res=8).select("poly_id", "id").collect()))
    lo = set(map(tuple, spatial_join(pts, big, res=3).select("poly_id", "id").collect()))
    assert hi == lo and len(hi) > 0


def test_open_ring_matches_closed_twin(spark):
    """A ring without its closing vertex is the same polygon: the cell
    index, the verify path and the rasterizer all see it closed."""
    from osmium_tool_spark.operators.spatial_join import spatial_join
    from osmium_tool_spark.operators.tiles import polygon_rasterize

    tri = [{"x": -600_000_000, "y": -300_000_000}, {"x": 700_000_000, "y": -200_000_000},
           {"x": 100_000_000, "y": 600_000_000}]
    closed = spark.createDataFrame([(1, [tri + tri[:1]])], RINGS)
    open_ = spark.createDataFrame([(1, [tri])], RINGS)
    pts = _points(spark)

    def pairs(polys):
        return set(map(tuple, spatial_join(pts, polys, res=6).select("poly_id", "id").collect()))

    def cells(polys):
        return set(map(tuple, polygon_rasterize(polys, res=7).select("cx", "cy").collect()))

    assert pairs(open_) == pairs(closed) and len(pairs(closed)) > 0
    assert cells(open_) == cells(closed) and len(cells(closed)) > 0


def test_over_cap_fails_loud(spark):
    from osmium_tool_spark.operators.spatial_join import build_polygon_cell_index

    big = spark.createDataFrame([(1, [_diamond(0, 0, 1_500_000_000)])], RINGS)
    with pytest.raises(Exception, match="MAX_CELLS_PER_POLYGON"):
        build_polygon_cell_index(big, res=12).count()


def test_over_500_polygons(spark):
    from osmium_tool_spark.operators.spatial_join import spatial_join

    polys = spark.range(520).select(
        F.col("id").alias("poly_id"),
        F.array(
            F.array(
                *[
                    F.struct(
                        (x * 100_000_000 + (F.col("id") % 16) * 200_000_000 - 1_500_000_000).cast("long").alias("x"),
                        (y * 100_000_000 + (F.col("id") % 8) * 200_000_000 - 800_000_000).cast("long").alias("y"),
                    )
                    for x, y in [(1, 0), (0, 1), (-1, 0), (0, -1), (1, 0)]
                ]
            )
        ).alias("rings"),
    )
    rows = spatial_join(_points(spark), polys, res=6).collect()
    assert len(rows) > 0


# ------------------------------------------------------------- grid_cluster


class TestGridCluster:
    def _pts(self, spark, rows):
        return spark.createDataFrame(rows, "id long, lon long, lat long")

    def test_two_blobs_and_noise(self, spark):
        from osmium_tool_spark.operators.spatial_join import grid_cluster

        S = 10_000_000  # 1 degree in fixed-point
        rows = []
        # blob A: 6 points in one cell near (10e, 10n)
        rows += [(i, 10 * S + i, 10 * S) for i in range(6)]
        # blob B: 6 points in a far-away cell
        rows += [(10 + i, -50 * S + i, -30 * S) for i in range(6)]
        # noise: single isolated points
        rows += [(100, 80 * S, 40 * S), (101, -170 * S, -80 * S)]
        out = {
            r["id"]: r
            for r in grid_cluster(
                self._pts(spark, rows), res=6, min_pts=4
            ).collect()
        }
        a_lbl = {out[i]["cluster_id"] for i in range(6)}
        b_lbl = {out[10 + i]["cluster_id"] for i in range(6)}
        assert len(a_lbl) == 1 and len(b_lbl) == 1 and a_lbl != b_lbl
        assert out[0]["cluster_size"] == 6 and out[10]["cluster_size"] == 6
        assert out[100]["cluster_id"] is None and out[101]["cluster_id"] is None

    def test_adjacent_cells_merge(self, spark):
        from osmium_tool_spark.functions.cells import _ix
        from osmium_tool_spark.operators.spatial_join import grid_cluster

        # at res 4 a cell is 22.5 deg of lon; put 4 points in each of two
        # horizontally adjacent cells and 4 in a diagonal cell
        S = 10_000_000
        rows = []
        rows += [(i, 10 * S + i, 10 * S) for i in range(4)]          # cell (8, 8)
        rows += [(10 + i, 30 * S + i, 10 * S) for i in range(4)]     # cell (9, 8)
        rows += [(20 + i, 30 * S + i, 20 * S) for i in range(4)]     # cell (9, 9)
        out = grid_cluster(self._pts(spark, rows), res=4, min_pts=4).collect()
        labels = {r["cluster_id"] for r in out}
        assert len(labels) == 1  # all three cells connect (side + diagonal)
        assert all(r["cluster_size"] == 12 for r in out)

    def test_antimeridian_wrap(self, spark):
        from osmium_tool_spark.operators.spatial_join import grid_cluster

        S = 10_000_000
        # res 4: ix 0 covers lon [-180, -157.5), ix 15 covers [157.5, 180)
        rows = [(i, -179 * S - i, 0) for i in range(4)]
        rows += [(10 + i, 179 * S + i, 0) for i in range(4)]
        out = grid_cluster(self._pts(spark, rows), res=4, min_pts=4).collect()
        assert len({r["cluster_id"] for r in out}) == 1  # wraps across ±180
        assert all(r["cluster_size"] == 8 for r in out)

    def test_sparse_cells_are_noise_not_clusters(self, spark):
        from osmium_tool_spark.operators.spatial_join import grid_cluster

        S = 10_000_000
        rows = [(i, (i * 40 - 170) * S, 20 * S) for i in range(8)]  # one per cell
        out = grid_cluster(self._pts(spark, rows), res=6, min_pts=2).collect()
        assert all(r["cluster_id"] is None for r in out)
        assert all(r["cluster_size"] is None for r in out)
