"""way_self_intersections + way_junctions: the OSM-QA topology checks
that complement segment_crossings (self-crossing rings are rejected by
the reference's area assembler, osmium/area/assembler.hpp; the junction
graph is the road-network adjacency).

Semantics under test:
  - bowtie way -> 1 self-intersection; simple closed ring -> 0
  - adjacent segments (shared vertex) never count; ring closure never counts
  - multi-cell pairs counted once; brute-force parity on random ways
  - junctions: shared exact vertices counted distinct-once per pair;
    snap>1 merges near vertices; degree cap fails LOUD
"""

import numpy as np
import pytest

from osmium_tool_spark.operators.spatial_join import (
    way_junctions,
    way_self_intersections,
)

D = 10_000_000  # 1 degree fixed-point


def _segs(spark, rows):
    return spark.createDataFrame(
        rows, "way_id long, seq long, x1 long, y1 long, x2 long, y2 long"
    )


def _way(spark, way_id, verts, seq0=1):
    rows = [
        (way_id, seq0 + i, x1, y1, x2, y2)
        for i, ((x1, y1), (x2, y2)) in enumerate(zip(verts, verts[1:]))
    ]
    return rows


def _self(df):
    return {r.way_id: r.n_self_intersections for r in df.collect()}


def _junc(df):
    return {(r.way_a, r.way_b): r.n_shared for r in df.collect()}


def test_bowtie_self_intersects_once(spark):
    # open bowtie: (0,0)->(2,2)->(2,0)->(0,2): last segment crosses first
    rows = _way(spark, 7, [(0, 0), (2 * D, 2 * D), (2 * D, 0), (0, 2 * D)])
    out = _self(way_self_intersections(_segs(spark, rows), res=7))
    assert out == {7: 1}


def test_simple_ring_and_zigzag_clean(spark):
    # closed square ring: closure touch is NOT a self-intersection
    ring = _way(
        spark, 1, [(0, 0), (D, 0), (D, D), (0, D), (0, 0)]
    )
    # zig-zag: adjacent segments share vertices, never proper
    zig = _way(spark, 2, [(3 * D, 0), (4 * D, D), (5 * D, 0), (6 * D, D)])
    out = _self(way_self_intersections(_segs(spark, ring + zig), res=7))
    assert out == {}


def test_self_multi_cell_counted_once(spark):
    # long bowtie spanning several res-7 cells (cell ~ 2.8deg)
    rows = _way(spark, 3, [(0, 0), (8 * D, 8 * D), (8 * D, 0), (0, 8 * D)])
    out = _self(way_self_intersections(_segs(spark, rows), res=7))
    assert out == {3: 1}


def test_self_brute_force_parity_and_res_invariance(spark):
    rng = np.random.default_rng(11)
    rows = []
    for wid in range(1, 25):
        bx = int(rng.integers(-150, 150)) * D
        by = int(rng.integers(-70, 70)) * D
        verts = [
            (bx + int(rng.integers(-D, D)), by + int(rng.integers(-D, D)))
            for _ in range(int(rng.integers(4, 9)))
        ]
        rows += _way(spark, wid, verts)

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    by_way = {}
    for wid, sa, ax1, ay1, ax2, ay2 in rows:
        for wid2, sb, bx1, by1, bx2, by2 in rows:
            if wid2 != wid or sb <= sa:
                continue
            d1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
            d2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
            d3 = orient(bx1, by1, bx2, by2, ax1, ay1)
            d4 = orient(bx1, by1, bx2, by2, ax2, ay2)
            if (d1 > 0) != (d2 > 0) and d1 != 0 and d2 != 0 and (
                d3 > 0
            ) != (d4 > 0) and d3 != 0 and d4 != 0:
                by_way[wid] = by_way.get(wid, 0) + 1

    df = _segs(spark, rows)
    assert _self(way_self_intersections(df, res=7)) == by_way
    assert _self(way_self_intersections(df, res=4)) == by_way


def test_junctions_shared_vertices(spark):
    rows = (
        _way(spark, 1, [(0, 0), (D, 0), (2 * D, 0)])
        # way 2 joins way 1 at BOTH (D,0) and (2D,0) -> n_shared=2
        + _way(spark, 2, [(D, 0), (D, D), (2 * D, 0)])
        # way 3 touches nothing exactly (off by 1 unit)
        + _way(spark, 3, [(D + 1, 0), (D, 5 * D)])
    )
    out = _junc(way_junctions(_segs(spark, rows)))
    assert out == {(1, 2): 2}


def test_junctions_snap_tolerance(spark):
    rows = (
        _way(spark, 1, [(0, 0), (D, 0)])
        + _way(spark, 2, [(D + 3, 7), (D, 5 * D)])  # ~0.3um off way 1's end
    )
    df = _segs(spark, rows)
    assert _junc(way_junctions(df, snap=1)) == {}
    assert _junc(way_junctions(df, snap=1000)) == {(1, 2): 1}


def test_junctions_shared_point_counted_once(spark):
    # both endpoints of BOTH segments of each way meet at one point:
    # n_shared counts distinct points, not incidences
    rows = (
        _way(spark, 1, [(0, 0), (D, D), (0, 0)])
        + _way(spark, 2, [(0, 0), (-D, D), (0, 0)])
    )
    out = _junc(way_junctions(_segs(spark, rows)))
    assert out == {(1, 2): 1}


def test_junctions_negative_coord_snap(spark):
    # floor-style snap on negatives: -1 and -999 fall in cell -1 at
    # snap=1000, while +1 falls in cell 0 (pmod, not truncation)
    rows = _way(spark, 1, [(-1, -1), (D, 0)]) + _way(
        spark, 2, [(-999, -999), (0, 5 * D)]
    ) + _way(spark, 3, [(1, 1), (0, -5 * D)])
    out = _junc(way_junctions(_segs(spark, rows), snap=1000))
    assert out == {(1, 2): 1}


def test_junctions_degree_cap_fails_loud(spark, monkeypatch):
    from osmium_tool_spark.operators import spatial_join

    rows = []
    for wid in range(1, 6):
        rows += _way(spark, wid, [(0, 0), (wid * D, D)])
    df = _segs(spark, rows)
    # 5 ways at one vertex -> C(5,2)=10 pairs when cap allows
    monkeypatch.setattr(spatial_join, "MAX_WAYS_PER_VERTEX", 5)
    assert sum(_junc(way_junctions(df)).values()) == 10
    monkeypatch.setattr(spatial_join, "MAX_WAYS_PER_VERTEX", 4)
    with pytest.raises(Exception, match="shared by more than"):
        way_junctions(df).collect()
