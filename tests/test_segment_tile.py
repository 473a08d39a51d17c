"""segment_tile_assign: exact closed-closed segment->tile cut.

Semantics under test (reference analog: extract bbox cutting assigns ways
to regions their geometry truly enters, osmium-tool strategy_simple; the
tile cut is the export/tiling surface, SURVEY.md §2.9):
  - a diagonal chord's bbox cover over-assigns; the exact cut keeps only
    tiles the segment passes through (O(L), not O(L^2))
  - closed-closed: a segment running ALONG a shared tile edge lands in
    both adjacent tiles (seam-free duplication)
  - degenerate point segments land in every closed tile containing them
    (4 tiles at a corner)
  - brute-force float parity on random local trajectories
  - loud failure past max_cells_per_seg
"""

import numpy as np
import pytest

from osmium_tool_spark.operators.tiles import segment_tile_assign

D = 10_000_000  # 1 degree fixed-point
LON_MIN, LAT_MIN = -180 * D, -90 * D


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "way_id long, seq long, x1 long, y1 long, x2 long, y2 long"
    )


def _tiles(df):
    return {(r.way_id, r.seq, r.tile_ix, r.tile_iy) for r in df.collect()}


def _cell_of(x, y, res):
    n = 1 << res
    return (
        min((x - LON_MIN) * n // (360 * D), n - 1),
        min((y - LAT_MIN) * n // (180 * D), n - 1),
    )


def test_diagonal_chord_thinner_than_bbox(spark):
    # res 7: cell = 2.8125 x 1.40625 deg. A 20-deg 45-degree chord:
    # bbox cover is a ~8x15 block (~120 cells); the exact cut keeps only
    # the ~O(8+15) staircase of cells the line passes through.
    x0, y0 = 10 * D, 10 * D
    L = 20 * D
    segs = [(1, 1, x0, y0, x0 + L, y0 + L)]
    out = _tiles(segment_tile_assign(_df(spark, segs), res=7))
    # brute float check: sample the segment densely, collect touched cells
    touched = set()
    for t in np.linspace(0, 1, 20001):
        px = x0 + t * L
        py = y0 + t * L
        touched.add(_cell_of(int(px), int(py), 7))
    got = {(ix, iy) for (_, _, ix, iy) in out}
    assert touched <= got  # everything truly touched is assigned
    # and the exact cut is strictly thinner than the bbox cover
    xs = [ix for ix, _ in got]
    ys = [iy for _, iy in got]
    bbox_cells = (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1)
    assert len(got) < bbox_cells


def test_edge_running_segment_in_both_tiles(spark):
    # res 1: 2x2 tiles; the x-boundary is lon 0. A segment running
    # exactly along lon=0 belongs to tiles 0 and 1 (closed-closed).
    segs = [(1, 1, 0, 10 * D, 0, 20 * D)]
    out = _tiles(segment_tile_assign(_df(spark, segs), res=1))
    assert out == {(1, 1, 0, 1), (1, 1, 1, 1)}


def test_point_segment_at_corner_in_four_tiles(spark):
    # degenerate segment exactly at the res-1 corner (lon 0, lat 0):
    # closed tiles all contain it.
    segs = [(1, 1, 0, 0, 0, 0)]
    out = _tiles(segment_tile_assign(_df(spark, segs), res=1))
    assert out == {(1, 1, ix, iy) for ix in (0, 1) for iy in (0, 1)}


def test_interior_segment_single_tile(spark):
    segs = [(1, 1, 10 * D, 10 * D, 10 * D + 1000, 10 * D + 1000)]
    out = _tiles(segment_tile_assign(_df(spark, segs), res=7))
    assert len(out) == 1


def _brute(segs, res):
    """Float reference: closed segment-AABB via dense sampling is not
    exact, so use the same SAT predicate in numpy float128-free exact
    int math (python ints)."""
    n = 1 << res
    SX, SY = 360 * D, 180 * D
    got = set()
    for wid, seq, x1, y1, x2, y2 in segs:
        sx1, sy1 = (x1 - LON_MIN) * n, (y1 - LAT_MIN) * n
        sx2, sy2 = (x2 - LON_MIN) * n, (y2 - LAT_MIN) * n
        cxmin = max((min(sx1, sx2) - 1) // SX, 0)
        cxmax = min(max(sx1, sx2) // SX, n - 1)
        cymin = max((min(sy1, sy2) - 1) // SY, 0)
        cymax = min(max(sy1, sy2) // SY, n - 1)
        dx, dy = sx2 - sx1, sy2 - sy1
        for cx in range(cxmin, cxmax + 1):
            for cy in range(cymin, cymax + 1):
                os = [
                    dx * (ry - sy1) - dy * (rx - sx1)
                    for rx in (cx * SX, (cx + 1) * SX)
                    for ry in (cy * SY, (cy + 1) * SY)
                ]
                if min(os) <= 0 <= max(os):
                    got.add((wid, seq, cx, cy))
    return got


def test_random_parity_exact_int(spark):
    rng = np.random.default_rng(42)
    segs = []
    for i in range(300):
        bx = int(rng.integers(-170, 170)) * D
        by = int(rng.integers(-80, 80)) * D
        segs.append(
            (
                i,
                1,
                bx + int(rng.integers(-D, D)),
                by + int(rng.integers(-D, D)),
                bx + int(rng.integers(-D, D)),
                by + int(rng.integers(-D, D)),
            )
        )
    out = _tiles(segment_tile_assign(_df(spark, segs), res=8))
    assert out == _brute(segs, 8)


def test_cap_raises_loud(spark):
    # planet chord at fine res blows the cap
    segs = [(1, 1, -170 * D, -80 * D, 170 * D, 80 * D)]
    with pytest.raises(Exception, match="more than"):
        segment_tile_assign(_df(spark, segs), res=10).count()


def test_res_guard(spark):
    with pytest.raises(ValueError, match="res"):
        segment_tile_assign(_df(spark, []), res=17)


def test_out_of_domain_segment_drops(spark):
    # antimeridian-unwrapped coords (lon > 180) clamp to an inverted
    # cover range; the cut must emit nothing (not a descending-sequence
    # explode) — mirrors generate_series empty-range SQL semantics.
    segs = [
        (1, 1, 180 * D + 697454, -27 * D, 180 * D + 314228, -27 * D + 5),
        (2, 1, 179 * D, 10 * D, 181 * D, 10 * D),  # straddles: kept, clamped
    ]
    out = _tiles(segment_tile_assign(_df(spark, segs), res=7))
    assert {w for (w, _, _, _) in out} == {2}
    assert all(0 <= ix <= 127 and 0 <= iy <= 127 for (_, _, ix, iy) in out)
