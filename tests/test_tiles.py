"""tile_pyramid: cascade-equals-direct property, measures, guards."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.functions.cells import cell_id
from osmium_tool_spark.operators.tiles import tile_pyramid


@pytest.fixture(scope="module")
def points(spark):
    # deterministic spread incl. the extreme corners (clamp path)
    return spark.range(0, 2000).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((F.col("id") * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )


def direct_level(points, r):
    return (
        points.select(cell_id(F.col("lon"), F.col("lat"), r).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )


def test_cascade_equals_direct_per_level(points):
    out = tile_pyramid(points, res=7, min_res=0).cache()
    try:
        for r in (7, 5, 2, 0):
            got = {
                (row["cell"], row["n"])
                for row in out.filter(F.col("res") == r).collect()
            }
            want = {
                (row["cell"], row["n"]) for row in direct_level(points, r).collect()
            }
            assert got == want, f"res {r} cascade != direct group-by"
    finally:
        out.unpersist()


def test_root_level_totals(points):
    out = tile_pyramid(points, res=5, min_res=0)
    root = out.filter(F.col("res") == 0).collect()
    assert len(root) == 1
    assert root[0]["n"] == 2000


def test_measures_roll_up(points):
    out = tile_pyramid(
        points, res=4, min_res=1, measures={"idsum": F.col("id")}
    )
    rows = out.groupBy("res").agg(
        F.sum("n").alias("n"), F.sum("idsum").alias("s")
    ).collect()
    assert len(rows) == 4  # res 4..1
    expect_s = sum(range(2000))
    for row in rows:
        assert row["n"] == 2000
        assert row["s"] == expect_s


def test_level_count_and_schema(points):
    out = tile_pyramid(points, res=3, min_res=3)
    assert [f.name for f in out.schema.fields] == ["res", "cell", "n"]
    assert out.select("res").distinct().count() == 1


def test_bad_args(points):
    with pytest.raises(ValueError):
        tile_pyramid(points, res=4, min_res=5)
    with pytest.raises(ValueError):
        tile_pyramid(points, res=4, min_res=-1)


# ---------------------------------------------------------- density_surface


class TestDensitySurface:
    def _pts(self, spark, rows):
        return spark.createDataFrame(rows, "id long, lon long, lat long")

    def test_single_cell_scatter_hand_computed(self, spark):
        from osmium_tool_spark.operators.tiles import density_surface

        S = 10_000_000
        # 3 points in one interior cell: the 3x3 halo gets 3*w everywhere
        pts = self._pts(spark, [(i, 10 * S + i, 10 * S) for i in range(3)])
        out = {(r["ix"], r["iy"]): r for r in density_surface(pts, res=4).collect()}
        cx = (10 + 180) * 16 // 360  # 8
        cy = (10 + 90) * 16 // 180   # 8
        assert len(out) == 9
        assert out[(cx, cy)]["density"] == 12 and out[(cx, cy)]["n_points"] == 3
        assert out[(cx + 1, cy)]["density"] == 6
        assert out[(cx + 1, cy + 1)]["density"] == 3
        # halo cells hold no points of their own
        assert out[(cx + 1, cy)]["n_points"] == 0

    def test_two_cells_sum(self, spark):
        from osmium_tool_spark.operators.tiles import density_surface

        S = 10_000_000
        # horizontally adjacent cells with 1 and 2 points: the shared
        # column gets cross contributions
        pts = self._pts(spark, [(1, 10 * S, 10 * S),
                                (2, 33 * S, 10 * S), (3, 33 * S + 1, 10 * S)])
        out = {(r["ix"], r["iy"]): r for r in density_surface(pts, res=4).collect()}
        # cell A (8,8): own 1*4 + neighbor 2*2 = 8; cell B (9,8): 2*4 + 1*2 = 10
        assert out[(8, 8)]["density"] == 8 and out[(8, 8)]["n_points"] == 1
        assert out[(9, 8)]["density"] == 10 and out[(9, 8)]["n_points"] == 2
        # the diagonal halo of both: (8..9, 9) column sums
        assert out[(8, 9)]["density"] == 1 * 2 + 2 * 1  # above A: w2 from A, w1 from B

    def test_antimeridian_wrap_and_pole_clip(self, spark):
        from osmium_tool_spark.operators.tiles import density_surface

        S = 10_000_000
        # a point in the last lon column wraps its halo into column 0;
        # a point in the top lat row has no targets above it
        pts = self._pts(spark, [(1, 179 * S, 89 * S)])
        out = {(r["ix"], r["iy"]): r["density"] for r in
               density_surface(pts, res=4).collect()}
        assert out[(15, 15)] == 4
        assert out[(0, 15)] == 2      # wrapped east neighbor
        assert out[(0, 14)] == 1      # wrapped diagonal
        assert not any(iy > 15 for _, iy in out)  # nothing past the pole
        assert len(out) == 6          # 3x3 minus the 3 clipped above-pole cells

    def test_total_mass_conserved_interior(self, spark):
        from osmium_tool_spark.operators.tiles import density_surface
        from pyspark.sql import functions as F

        S = 10_000_000
        # interior points far from poles: sum(density) == 16 * n_points
        pts = self._pts(spark, [(i, (i * 7 - 60) * S, (i * 3 - 20) * S)
                                for i in range(20)])
        total = density_surface(pts, res=5).agg(F.sum("density")).collect()[0][0]
        assert total == 16 * 20


# ------------------------------------------------------- tile_buffer_assign


class TestTileBufferAssign:
    S = 10_000_000  # fixed-point units per degree

    def _pts(self, spark, rows):
        return spark.createDataFrame(rows, "id long, lon long, lat long")

    def _run(self, spark, rows, res=4, buffer=2 * 10_000_000):
        from osmium_tool_spark.operators.tiles import tile_buffer_assign

        out = tile_buffer_assign(self._pts(spark, rows), res=res, buffer=buffer)
        return sorted(
            (r["id"], r["tile_ix"], r["tile_iy"], r["is_core"]) for r in out.collect()
        )

    def test_interior_point_single_tile(self, spark):
        # res 4: cells are 22.5 x 11.25 degrees; (10,5) sits mid-cell
        got = self._run(spark, [(1, 10 * self.S, 5 * self.S)])
        assert got == [(1, 8, 8, True)]

    def test_edge_point_duplicates_into_neighbor(self, spark):
        # cell x edge at lon 0: point at lon 0.5 deg with 2-degree buffer
        # belongs to home (8, 8) and west neighbor (7, 8)
        got = self._run(spark, [(1, int(0.5 * self.S), 5 * self.S)])
        assert got == [(1, 7, 8, False), (1, 8, 8, True)]

    def test_corner_point_four_tiles(self, spark):
        # near the (lon 0, lat 0) corner: home + W + S + SW
        got = self._run(spark, [(1, int(0.5 * self.S), int(0.5 * self.S))])
        assert got == [
            (1, 7, 7, False), (1, 7, 8, False),
            (1, 8, 7, False), (1, 8, 8, True),
        ]

    def test_antimeridian_wrap(self, spark):
        # last lon column (15); within buffer of lon 180 -> duplicates to 0
        got = self._run(spark, [(1, int(179.5 * self.S), 5 * self.S)])
        assert (1, 0, 8, False) in got and (1, 15, 8, True) in got

    def test_pole_clip(self, spark):
        # top lat row: nothing above the pole
        got = self._run(spark, [(1, 10 * self.S, int(89.5 * self.S))])
        assert all(iy <= 15 for _, _, iy, _ in got)
        assert (1, 8, 15, True) in got

    def test_exactly_one_core_per_point(self, spark):
        rows = [(i, ((i * 2654435761) % 3600000000) - 1800000000,
                 ((i * 2246822519) % 1800000000) - 900000000) for i in range(200)]
        got = self._run(spark, rows)
        cores = [g for g in got if g[3]]
        assert len(cores) == 200
        assert len({g[0] for g in cores}) == 200

    def test_buffer_guard(self, spark):
        from osmium_tool_spark.operators.tiles import tile_buffer_assign

        with pytest.raises(ValueError):
            tile_buffer_assign(self._pts(spark, [(1, 0, 0)]), res=4,
                               buffer=12 * self.S)  # >= lat cell size

    def test_zero_buffer_no_duplication(self, spark):
        got = self._run(spark, [(1, int(0.5 * self.S), int(0.5 * self.S))],
                        buffer=0)
        assert got == [(1, 8, 8, True)]
