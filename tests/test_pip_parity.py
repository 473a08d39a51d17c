"""Property tests: the JVM Column PIP (`extract._pip_column`), the numpy
y-band kernel (`functions/geometry.BandIndex.contains`) and its cell-cover
shortcut (`CellCover.contains`) agree with each other and with a direct
transliteration of the reference crossing rule
(src/extract/extract_polygon.cpp:103-156) on random polygons and points —
including vertices and degenerate shapes — and `assign_extracts` runs the
numpy kernel on executors for polygons above MAX_JVM_PIP_SEGMENTS."""

import numpy as np
import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from osmium_tool_spark.functions.geometry import BandIndex, CellCover, Extract
from osmium_tool_spark.operators.extract import (
    MAX_JVM_PIP_SEGMENTS,
    _pip_column,
    _segs_literal,
    assign_extracts,
)


def ref_contains(px: int, py: int, segs) -> bool:
    """Reference rule, straight transliteration (endpoint==point -> inside,
    even-odd crossing with exact integer sign test)."""
    cnt = 0
    for x1, y1, x2, y2 in segs:
        if (px, py) == (x1, y1) or (px, py) == (x2, y2):
            return True
        if (y2 > py) != (y1 > py):
            ay = y1 - y2
            comp = (px - x2) * ay < (x1 - x2) * (py - y2)
            if (ay > 0) == comp:
                cnt += 1
    return cnt % 2 == 1


coords = st.integers(min_value=-50, max_value=50)


@st.composite
def ring_strategy(draw):
    n = draw(st.integers(min_value=3, max_value=8))
    pts = [(draw(coords), draw(coords)) for _ in range(n)]
    pts.append(pts[0])
    return np.array(pts, dtype=np.int64)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ring=ring_strategy(), seed=st.integers(min_value=0, max_value=2**31))
def test_numpy_kernel_matches_reference_rule(ring, seed):
    idx = BandIndex.build([ring])
    rng = np.random.default_rng(seed)
    xs = rng.integers(-60, 60, size=200).astype(np.int64)
    ys = rng.integers(-60, 60, size=200).astype(np.int64)
    # include the vertices themselves (endpoint rule)
    xs = np.concatenate([xs, ring[:, 0]])
    ys = np.concatenate([ys, ring[:, 1]])
    got = idx.contains(xs, ys)
    segs = [tuple(s) for s in idx.segs]
    want = np.array([ref_contains(int(x), int(y), segs) for x, y in zip(xs, ys)])
    assert (got == want).all()


def test_jvm_column_matches_numpy_kernel(spark):
    rng = np.random.default_rng(7)
    for trial in range(5):
        n = rng.integers(3, 9)
        pts = rng.integers(-50, 51, size=(int(n), 2)).astype(np.int64)
        ring = np.vstack([pts, pts[:1]])
        ex = Extract.polygon(0, [ring])
        xs = rng.integers(-60, 61, size=300).astype(np.int64)
        ys = rng.integers(-60, 61, size=300).astype(np.int64)
        xs = np.concatenate([xs, ring[:, 0]])
        ys = np.concatenate([ys, ring[:, 1]])
        want = ex.index.contains(xs, ys)

        df = spark.createDataFrame(
            [(int(x), int(y)) for x, y in zip(xs, ys)], "lon long, lat long"
        )
        got_rows = df.select(
            _pip_column(F.col("lon"), F.col("lat"), _segs_literal(ex)).alias("inside")
        ).collect()
        got = np.array([r.inside for r in got_rows])
        assert (got == want).all(), f"trial {trial}: JVM and numpy PIP disagree"


def test_world_scale_coordinates_no_overflow(spark):
    # products approach the int64 analysis bound (BENCH worst case):
    # a polygon spanning the whole world, points at the extremes
    r = 1_799_999_999
    t = 899_999_999
    ring = np.array([(-r, -t), (r, -t), (r, t), (-r, t), (-r, -t)], dtype=np.int64)
    ex = Extract.polygon(0, [ring])
    pts = [(-r, -t), (r, t), (0, 0), (-r - 1, 0), (r, 0), (0, t), (0, -t - 1)]
    xs = np.array([p[0] for p in pts], dtype=np.int64)
    ys = np.array([p[1] for p in pts], dtype=np.int64)
    want = ex.index.contains(xs, ys)
    df = spark.createDataFrame([(int(x), int(y)) for x, y in pts], "lon long, lat long")
    got = np.array(
        [r_.i for r_ in df.select(_pip_column(F.col("lon"), F.col("lat"), _segs_literal(ex)).alias("i")).collect()]
    )
    assert (got == want).all()


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ring=ring_strategy(), seed=st.integers(min_value=0, max_value=2**31))
def test_cell_cover_matches_raycast(ring, seed):
    """CellCover.contains (interior/exterior cell shortcut) must be
    bit-identical to the plain band ray cast — including on vertices and
    with a coarse grid that forces real interior cells."""
    idx = BandIndex.build([ring])
    assume(len(idx.segs) > 0)
    cover = CellCover.build(idx, max_cells=16)  # coarse: multi-point cells
    rng = np.random.default_rng(seed)
    xs = rng.integers(-60, 60, size=300).astype(np.int64)
    ys = rng.integers(-60, 60, size=300).astype(np.int64)
    xs = np.concatenate([xs, ring[:, 0]])
    ys = np.concatenate([ys, ring[:, 1]])
    assert (cover.contains(xs, ys) == idx.contains(xs, ys)).all()


def test_cell_cover_empty_polygon():
    assert CellCover.build(BandIndex.build([])) is None


def test_cell_cover_has_interior_cells():
    """A fat rectangle at fine resolution must classify interior cells as
    inside=1 (the speedup exists) and its edges as boundary=2."""
    ring = np.array(
        [(0, 0), (1000, 0), (1000, 1000), (0, 1000), (0, 0)], dtype=np.int64
    )
    cover = CellCover.build(BandIndex.build([ring]), max_cells=1024)
    vals, counts = np.unique(cover.classes, return_counts=True)
    by = dict(zip(vals.tolist(), counts.tolist()))
    assert by.get(1, 0) > by.get(2, 0)  # interior dominates boundary
    assert by.get(2, 0) > 0


def ngon(n: int, r: int) -> np.ndarray:
    """Closed regular n-gon of radius r around the origin, int64 vertices."""
    t = 2 * np.pi * np.arange(n) / n
    pts = np.stack([np.round(r * np.cos(t)), np.round(r * np.sin(t))], axis=1)
    return np.vstack([pts, pts[:1]]).astype(np.int64)


def test_assign_extracts_large_polygon_with_hole(spark):
    """A 200-gon with a 200-gon hole takes the numpy path (above
    MAX_JVM_PIP_SEGMENTS): the executor kernel's rows, payload included,
    must match the reference rule on random points and on every vertex."""
    outer, inner = ngon(200, 1_000_000), ngon(200, 500_000)[::-1]
    ex = Extract.polygon(3, [outer, inner])
    assert len(ex.index.segs) > MAX_JVM_PIP_SEGMENTS
    cover = CellCover.build(ex.index)
    rng = np.random.default_rng(11)
    xs = np.concatenate([rng.integers(-1_100_000, 1_100_001, 2000), outer[:, 0], inner[:, 0]])
    ys = np.concatenate([rng.integers(-1_100_000, 1_100_001, 2000), outer[:, 1], inner[:, 1]])
    env = (xs >= ex.minx) & (xs <= ex.maxx) & (ys >= ex.miny) & (ys <= ex.maxy)
    cls = cover.classes[(ys[env] - ex.miny) // cover.gy, (xs[env] - ex.minx) // cover.gx]
    # both executor branches run: interior-cell lookup and boundary ray cast
    assert (cls == 1).any() and (cls == 2).any()

    rows = [(i, int(x), int(y), i % 7) for i, (x, y) in enumerate(zip(xs, ys))]
    nodes = spark.createDataFrame(rows, "id long, lon long, lat long, tag long")
    got = assign_extracts(nodes, [ex], payload_cols=["tag"]).collect()
    segs = [tuple(int(v) for v in s_) for s_ in ex.index.segs]
    want = {i for i, x, y, _ in rows if ref_contains(x, y, segs)}
    assert {r.id for r in got} == want and len(got) == len(want)
    assert all(r.extract_id == 3 and r.tag == r.id % 7 for r in got)
    assert 0 < len(want) < len(rows)
