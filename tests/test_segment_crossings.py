"""segment_crossings: grid-bucketed proper-intersection join.

Semantics under test (reference analog: osmium assembles the same way
segments for area/export, command_export.cpp:619-631; the crossing test
itself is the OSM-QA ways-cross-without-junction check):
  - proper crossings counted once per segment pair, whatever cell count
  - endpoint touches / collinear overlaps / shared junction nodes -> 0
  - resolution invariance (candidate generation may differ, result not)
  - brute-force parity on random local trajectories
  - loud failure when a segment covers more cells than the cap
"""

import numpy as np
import pytest

from osmium_tool_spark.operators.spatial_join import segment_crossings

D = 10_000_000  # 1 degree fixed-point


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "way_id long, seq long, x1 long, y1 long, x2 long, y2 long"
    )


def _pairs(df):
    return {
        (r.way_a, r.way_b): r.n_crossings for r in df.collect()
    }


def test_x_crossing(spark):
    # a plain X near (10deg, 10deg)
    segs = [
        (1, 1, 10 * D, 10 * D, 11 * D, 11 * D),
        (2, 1, 10 * D, 11 * D, 11 * D, 10 * D),
    ]
    assert _pairs(segment_crossings(_df(spark, segs), res=7)) == {(1, 2): 1}


def test_endpoint_touch_and_collinear_excluded(spark):
    segs = [
        # way 3 ENDS exactly on way 1's interior -> improper, excluded
        (1, 1, 0, 0, 2 * D, 0),
        (3, 1, D, -D, D, 0),
        # way 4 collinear-overlaps way 1 -> all orientations 0, excluded
        (4, 1, D, 0, 3 * D, 0),
        # ways 5/6 share a junction vertex -> improper, excluded
        (5, 1, 5 * D, 5 * D, 6 * D, 6 * D),
        (6, 1, 5 * D, 5 * D, 6 * D, 4 * D),
    ]
    assert _pairs(segment_crossings(_df(spark, segs), res=7)) == {}


def test_multi_cell_pair_counted_once(spark):
    # long diagonal crossings spanning several res-7 cells (cell ~ 2.8deg)
    segs = [
        (1, 1, 0, 0, 8 * D, 8 * D),
        (2, 1, 0, 8 * D, 8 * D, 0),
    ]
    out = _pairs(segment_crossings(_df(spark, segs), res=7))
    assert out == {(1, 2): 1}


def test_two_crossings_two_pairs(spark):
    # way 2 zig-zags across way 1 twice -> n_crossings = 2
    segs = [
        (1, 1, 0, 0, 6 * D, 0),
        (2, 1, D, -D, 2 * D, D),
        (2, 2, 2 * D, D, 3 * D, -D),
    ]
    assert _pairs(segment_crossings(_df(spark, segs), res=7)) == {(1, 2): 2}


def _brute(segs):
    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    out = {}
    for i, a in enumerate(segs):
        for b in segs[i + 1:]:
            if a[0] == b[0]:
                continue
            wa, wb = (a, b) if a[0] < b[0] else (b, a)
            d1 = orient(wa[2], wa[3], wa[4], wa[5], wb[2], wb[3])
            d2 = orient(wa[2], wa[3], wa[4], wa[5], wb[4], wb[5])
            d3 = orient(wb[2], wb[3], wb[4], wb[5], wa[2], wa[3])
            d4 = orient(wb[2], wb[3], wb[4], wb[5], wa[4], wa[5])
            if ((d1 > 0 > d2) or (d1 < 0 < d2)) and (
                (d3 > 0 > d4) or (d3 < 0 < d4)
            ):
                k = (wa[0], wb[0])
                out[k] = out.get(k, 0) + 1
    return out


def test_bruteforce_parity_and_res_invariance(spark):
    rng = np.random.default_rng(7)
    segs = []
    for wid in range(1, 61):
        bx = int(rng.integers(-170, 170)) * D
        by = int(rng.integers(-80, 80)) * D
        n = int(rng.integers(2, 6))
        vx = bx + rng.integers(-D, D + 1, size=n)
        vy = by + rng.integers(-D, D + 1, size=n)
        for s in range(n - 1):
            segs.append(
                (wid, s + 1, int(vx[s]), int(vy[s]), int(vx[s + 1]), int(vy[s + 1]))
            )
    expect = _brute(segs)
    got7 = _pairs(segment_crossings(_df(spark, segs), res=7))
    got4 = _pairs(segment_crossings(_df(spark, segs), res=4))
    assert got7 == expect
    assert got4 == expect


def test_planet_chord_fails_loud(spark):
    segs = [(1, 1, -170 * D, -80 * D, 170 * D, 80 * D)]
    with pytest.raises(Exception, match="covers more than"):
        segment_crossings(_df(spark, segs), res=7).collect()
