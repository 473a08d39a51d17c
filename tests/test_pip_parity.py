"""Property tests: the JVM Column PIP (`extract._pip_column`), the numpy
y-band kernel (`functions/geometry.BandIndex.contains`) and its cell-cover
shortcut (`CellCover.contains`) agree with each other and with a direct
transliteration of the reference crossing rule
(src/extract/extract_polygon.cpp:103-156) on random polygons and points —
including vertices and degenerate shapes — and `assign_extracts` runs the
numpy kernel on executors for polygons above MAX_JVM_PIP_SEGMENTS. The
grid cover (`scanline_runs`, `boundary_cells`) is checked cell by cell
against the same rule: the runs hold exactly the cells whose centre is
inside, also for unclosed rings, and for closed rings every cell outside
the boundary cells has one verdict at its centre and corners."""

import numpy as np
import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from osmium_tool_spark.functions.geometry import (
    BandIndex,
    CellCover,
    Extract,
    boundary_cells,
    box_cells,
    run_cells,
    scanline_runs,
)
from osmium_tool_spark.operators.extract import (
    MAX_COVER_CELLS,
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
    cover = CellCover.build(idx, res=27)  # coarse: cells of 27 x 13 units
    rng = np.random.default_rng(seed)
    xs = rng.integers(-60, 60, size=300).astype(np.int64)
    ys = rng.integers(-60, 60, size=300).astype(np.int64)
    xs = np.concatenate([xs, ring[:, 0]])
    ys = np.concatenate([ys, ring[:, 1]])
    assert (cover.contains(xs, ys) == idx.contains(xs, ys)).all()


def test_cell_cover_empty_polygon():
    segs = BandIndex.build([]).segs
    assert len(boundary_cells(segs, 10)) == 0 and len(scanline_runs(segs, 10)) == 0
    cover = CellCover.build(BandIndex.build([]), res=10)
    assert not cover.classes.any()  # no boundary and no interior cell
    assert not cover.contains(np.array([0, 5]), np.array([0, -5])).any()


def test_cell_cover_has_interior_cells():
    """A fat rectangle at fine resolution must have interior cells that
    are not boundary cells (the speedup exists) and boundary cells."""
    ring = np.array(
        [(0, 0), (1000, 0), (1000, 1000), (0, 1000), (0, 0)], dtype=np.int64
    )
    cover = CellCover.build(BandIndex.build([ring]), res=25)
    n_inner, n_edge = int((cover.classes == 1).sum()), int((cover.classes == 2).sum())
    assert n_inner > n_edge  # interior dominates boundary
    assert n_edge > 0


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
    # res 18 is the finest whose bbox holds at most MAX_COVER_CELLS cells,
    # the res assign_extracts picks
    assert box_cells(ex.index.segs, 18) <= MAX_COVER_CELLS < box_cells(ex.index.segs, 19)
    cover = CellCover.build(ex.index, res=18)
    rng = np.random.default_rng(11)
    xs = np.concatenate([rng.integers(-1_100_000, 1_100_001, 2000), outer[:, 0], inner[:, 0]])
    ys = np.concatenate([rng.integers(-1_100_000, 1_100_001, 2000), outer[:, 1], inner[:, 1]])
    env = (xs >= ex.minx) & (xs <= ex.maxx) & (ys >= ex.miny) & (ys <= ex.maxy)
    cls = cover.lookup(xs[env], ys[env])
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


LON_MIN, LAT_MIN = -1_800_000_000, -900_000_000
LON_SPAN, LAT_SPAN = 3_600_000_000, 1_800_000_000


def centre2n(cx: int, cy: int, n: int) -> tuple[int, int]:
    """Exact centre of cell (cx, cy) in 2n-scaled integers."""
    return 2 * n * LON_MIN + (2 * cx + 1) * LON_SPAN, 2 * n * LAT_MIN + (2 * cy + 1) * LAT_SPAN


@st.composite
def lattice_polygon(draw):
    """(res, rings) with vertices on the half-cell lattice of `res`: even
    steps lie on cell edges, odd steps on cell centres, and a vertex may
    be nudged by one unit. Rings are random polygons or rectangles (their
    horizontal edges may lie on a centre line), a rectangle may carry a
    rectangular hole, and a second ring makes a multipolygon. A ring may
    be left unclosed; `closed` says whether all rings are closed."""
    res = draw(st.sampled_from([1, 2, 3, 4, 5, 6, 7, 8, 26, 27, 28, 29, 30]))
    n = 1 << res
    w = min(12, 2 * n)
    bx = draw(st.integers(0, 2 * n - w))
    by = draw(st.integers(0, 2 * n - w))
    k = st.integers(0, w)
    nudge = st.sampled_from([0, 0, 0, -1, 1])

    def pt(kx, ky):
        x = LON_MIN + (bx + kx) * LON_SPAN // (2 * n) + draw(nudge)
        y = LAT_MIN + (by + ky) * LAT_SPAN // (2 * n) + draw(nudge)
        return (min(max(x, LON_MIN), -LON_MIN), min(max(y, LAT_MIN), -LAT_MIN))

    def rect(x0, y0, x1, y1):
        return [pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1)]

    rings = []
    for _ in range(draw(st.integers(1, 2))):
        if draw(st.booleans()):
            pts = [pt(draw(k), draw(k)) for _ in range(draw(st.integers(3, 6)))]
            rings.append(pts)
        else:
            x0, x1 = sorted(draw(st.lists(k, min_size=2, max_size=2, unique=True)))
            y0, y1 = sorted(draw(st.lists(k, min_size=2, max_size=2, unique=True)))
            rings.append(rect(x0, y0, x1, y1))
            if x1 - x0 >= 3 and y1 - y0 >= 3 and draw(st.booleans()):
                rings.append(rect(x0 + 1, y0 + 1, x1 - 1, y1 - 1)[::-1])
    shut = [draw(st.booleans()) for _ in rings]
    return res, [np.array(r + r[:1] if c else r, dtype=np.int64) for r, c in zip(rings, shut)], all(shut)


@settings(max_examples=60, deadline=None)
@given(case=lattice_polygon())
def test_scanline_cover_matches_reference_rule(case):
    res, rings, closed = case
    n = 1 << res
    idx = BandIndex.build(rings)
    assume(len(idx.segs) > 0)
    boundary, interior = boundary_cells(idx.segs, res), scanline_runs(idx.segs, res)
    segs = [tuple(int(v) for v in s_) for s_ in idx.segs]
    segs2n = [tuple(2 * n * v for v in s_) for s_ in segs]

    def ordinate(v, vmin, span):
        return min(max((v - vmin) * n // span, 0), n - 1)

    x0, x1 = ordinate(idx.minx, LON_MIN, LON_SPAN), ordinate(idx.maxx, LON_MIN, LON_SPAN)
    y0, y1 = ordinate(idx.miny, LAT_MIN, LAT_SPAN), ordinate(idx.maxy, LAT_MIN, LAT_SPAN)
    cells = [
        (cx, cy)
        for cx in range(max(x0 - 1, 0), min(x1 + 2, n))
        for cy in range(max(y0 - 1, 0), min(y1 + 2, n))
    ]
    # the runs hold the cells of the bbox whose centre is inside; a closed
    # ring has no inside centre beyond them, an unclosed one stays odd
    # left of a row's crossings
    want = {
        (cx, cy) for cx, cy in cells
        if x0 <= cx <= x1 and y0 <= cy <= y1 and ref_contains(*centre2n(cx, cy, n), segs2n)
    }
    if closed:
        assert want == {c for c in cells if ref_contains(*centre2n(*c, n), segs2n)}
    gx, gy = run_cells(interior)
    got = list(zip(gx.tolist(), gy.tolist()))
    assert set(got) == want and len(got) == len(want)

    # with closed rings a cell no segment touches has one verdict: the
    # integer point at its centre and its four integer corners agree with
    # its centre's (an unclosed ring's parity can change off its segments)
    if not closed:
        return
    on_edge = set(boundary.tolist())
    for cx, cy in cells:
        if cy * n + cx in on_edge:
            continue
        x0 = -(-(LON_MIN * n + cx * LON_SPAN) // n)
        x1 = (LON_MIN * n + (cx + 1) * LON_SPAN) // n
        y0 = -(-(LAT_MIN * n + cy * LAT_SPAN) // n)
        y1 = (LAT_MIN * n + (cy + 1) * LAT_SPAN) // n
        px, py = centre2n(cx, cy, n)
        xc = min(max(px // (2 * n), x0), x1)
        yc = min(max(py // (2 * n), y0), y1)
        xs = np.array([xc, x0, x1, x0, x1], dtype=np.int64)
        ys = np.array([yc, y0, y0, y1, y1], dtype=np.int64)
        assert (idx.contains(xs, ys) == ((cx, cy) in want)).all(), (cx, cy)


def test_scanline_cover_world_scale_res12():
    """A world-spanning polygon with a hole at res 12: the reference's
    cross products at cell centres pass 2^63, so only exact arithmetic
    gets each row's runs right. Sampled rows are compared in full."""
    res, n = 12, 1 << 12
    outer = [(-1_799_999_999, -899_999_999), (1_799_999_999, -750_000_001),
             (1_000_000_003, 899_999_999), (-3, 123_456_789),
             (-1_700_000_001, 899_999_997)]
    hole = [(-400_000_001, -300_000_007), (-350_000_000, 100_000_001),
            (300_000_011, 50_000_000)]
    rings = [np.array(r + r[:1], dtype=np.int64) for r in (outer, hole)]
    idx = BandIndex.build(rings)
    segs2n = [tuple(2 * n * int(v) for v in s_) for s_ in idx.segs]
    x1, y1, x2, y2 = segs2n[0]
    px, py = centre2n(n - 1, n // 2, n)
    assert abs((px - x2) * (y1 - y2)) > 2**63
    interior = scanline_runs(idx.segs, res)
    gx, gy = run_cells(interior)
    rng = np.random.default_rng(3)
    for cy in [0, 1, n // 2 - 1, n // 2, n - 2, n - 1, *rng.integers(0, n, 8).tolist()]:
        want = {cx for cx in range(n) if ref_contains(*centre2n(cx, cy, n), segs2n)}
        assert set(gx[gy == cy].tolist()) == want, cy
    assert 0 < len(gx) < n * n
