"""Round-4m operators: dist_join (distance-band all-pairs spatial
join), way_area_geodesic (CD2007 spherical ring area), tfidf_topk
(per-doc keywords), history_intervals (SCD-2 validity windows),
augment_crops (deterministic per-epoch augmentation draws)."""

import math

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.changes import history_intervals, time_filter
from osmium_tool_spark.operators.export import way_area_geodesic
from osmium_tool_spark.operators.multimodal import augment_crops
from osmium_tool_spark.operators.retrieval import tfidf_topk
from osmium_tool_spark.operators.spatial_join import dist_join

FIXED = 10_000_000


# ---------------------------------------------------------------- dist_join
def _points(spark, rows):
    return spark.createDataFrame(rows, "id long, lon long, lat long")


def test_dist_join_manual(spark):
    df = _points(spark, [(1, 0, 0), (2, 1000, 0), (3, 0, 900),
                         (4, 10_000_000, 0)])
    got = {(r.id_a, r.id_b, r.dist2)
           for r in dist_join(df, 1500).collect()}
    assert got == {(1, 2, 1_000_000), (1, 3, 810_000), (2, 3, 1_810_000)}


def test_dist_join_boundary_inclusive(spark):
    df = _points(spark, [(1, 0, 0), (2, 1500, 0), (3, 1501, 0)])
    got = {(r.id_a, r.id_b) for r in dist_join(df, 1500).collect()}
    assert (1, 2) in got and (1, 3) not in got


def _brute(pts, r):
    out = set()
    for i, (ia, xa, ya) in enumerate(pts):
        for ib, xb, yb in pts[i + 1:]:
            lo, hi = min(ia, ib), max(ia, ib)
            if (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r:
                out.add((lo, hi))
    return out


@pytest.mark.parametrize("radius", [40_000_000, 123_456_789, 700_000_000])
def test_dist_join_matches_bruteforce(spark, radius):
    """Completeness property across cell resolutions: deterministic
    pseudo-random world-spread points, ring join == brute force."""
    pts = []
    for i in range(200):
        lon = (i * 2_654_435_761) % 3_600_000_000 - 1_800_000_000
        lat = (i * 2_246_822_519) % 1_800_000_000 - 900_000_000
        pts.append((i, lon, lat))
    got = {(r.id_a, r.id_b)
           for r in dist_join(_points(spark, pts), radius).collect()}
    assert got == _brute(pts, radius)


def test_dist_join_bad_radius(spark):
    df = _points(spark, [(1, 0, 0)])
    with pytest.raises(ValueError, match="positive"):
        dist_join(df, 0)
    with pytest.raises(ValueError, match="domain"):
        dist_join(df, 2_000_000_000)


# ------------------------------------------------------- way_area_geodesic
def _ways_nodes(spark, coords, closed=False):
    """One way over the coord list (deg floats -> fixed-point)."""
    cs = list(coords) + ([coords[0]] if closed else [])
    nodes = [(i + 1, int(round(lo * FIXED)), int(round(la * FIXED)))
             for i, (lo, la) in enumerate(cs)]
    n = spark.createDataFrame(nodes, "id long, lon long, lat long")
    w = spark.createDataFrame([(100, 1, [r[0] for r in nodes])],
                              "id long, version int, refs array<long>")
    return w, n


def test_geodesic_area_small_square(spark):
    """A 0.01-deg square at the equator: spherical area ~= planar
    (R*rad)^2 patch to <0.01%."""
    d = 0.01
    w, n = _ways_nodes(spark, [(0, 0), (d, 0), (d, d), (0, d)])
    row = way_area_geodesic(w, n).collect()[0]
    side = 6_371_008.8 * math.radians(d)
    assert row.area_m2 == pytest.approx(side * side, rel=1e-4)
    assert row.is_ccw_sph  # counterclockwise ring


def test_geodesic_area_orientation(spark):
    d = 0.01
    w, n = _ways_nodes(spark, [(0, d), (d, d), (d, 0), (0, 0)])  # clockwise
    row = way_area_geodesic(w, n).collect()[0]
    assert not row.is_ccw_sph


def test_geodesic_area_closed_equals_open(spark):
    d = 0.02
    ring = [(0, 0), (d, 0), (d, d), (0, d)]
    wo, no = _ways_nodes(spark, ring, closed=False)
    wc, nc = _ways_nodes(spark, ring, closed=True)
    a_open = way_area_geodesic(wo, no).collect()[0].area_m2
    a_closed = way_area_geodesic(wc, nc).collect()[0].area_m2
    assert a_open == a_closed


def test_geodesic_area_latitude_scaling(spark):
    """Same lon/lat-degree square at lat 60 covers ~cos(60)=half the
    area of the equator one (the distortion planar way_area misses)."""
    d = 0.01
    weq, neq = _ways_nodes(spark, [(0, 0), (d, 0), (d, d), (0, d)])
    w60, n60 = _ways_nodes(spark, [(0, 60), (d, 60), (d, 60 + d), (0, 60 + d)])
    a_eq = way_area_geodesic(weq, neq).collect()[0].area_m2
    a_60 = way_area_geodesic(w60, n60).collect()[0].area_m2
    assert a_60 / a_eq == pytest.approx(math.cos(math.radians(60 + d / 2)),
                                        rel=1e-3)


def test_geodesic_area_unresolved_ref_null(spark):
    n = spark.createDataFrame([(1, 0, 0), (2, 100000, 0), (3, 100000, 100000)],
                              "id long, lon long, lat long")
    w = spark.createDataFrame([(100, 1, [1, 2, 3, 99])],
                              "id long, version int, refs array<long>")
    rows = way_area_geodesic(w, n).collect()
    # unresolved ref 99 -> NULL coords propagate -> NULL area
    assert len(rows) == 1 and rows[0].area_m2 is None


# ------------------------------------------------------------- tfidf_topk
def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")


def test_tfidf_hand_computed(spark):
    docs = _docs(spark, ["cat cat dog", "dog fish", "cat fish fish"])
    out = {(r.doc_id, r.rank): (r.term, r.tf, r.df, r.score)
           for r in tfidf_topk(docs, k=2).collect()}
    # idf(term) = ln((1+3)/(1+df)) + 1; every term df in {2}
    idf2 = math.log(4 / 3) + 1
    assert out[(0, 1)][0] == "cat" and out[(0, 1)][3] == round(2 * idf2, 6)
    assert out[(1, 1)] == ("dog", 1, 2, round(idf2, 6))  # tie -> term asc
    assert out[(1, 2)] == ("fish", 1, 2, round(idf2, 6))
    assert out[(2, 1)][0] == "fish" and out[(2, 1)][1] == 2


def test_tfidf_max_min_df(spark):
    docs = _docs(spark, ["a b", "a c", "a d"])
    # max_df=2 drops 'a' (df=3)
    terms = {r.term for r in tfidf_topk(docs, k=5, max_df=2).collect()}
    assert "a" not in terms and {"b", "c", "d"} <= terms


# ------------------------------------------------------ history_intervals
def _hist(spark, rows):
    return spark.createDataFrame(
        rows, "type int, id long, version int, ts long, visible boolean")


def test_history_intervals_basic(spark):
    h = _hist(spark, [(0, 1, 1, 100, True), (0, 1, 2, 200, True),
                      (0, 1, 3, 300, False), (0, 2, 1, 150, True)])
    got = {(r.id, r.version): (r.valid_from, r.valid_to, r.is_current,
                               r.is_delete)
           for r in history_intervals(h).collect()}
    assert got[(1, 1)] == (100, 200, False, False)
    assert got[(1, 2)] == (200, 300, False, False)
    assert got[(1, 3)] == (300, None, True, True)
    assert got[(2, 1)] == (150, None, True, False)


@pytest.mark.parametrize("t", [99, 100, 199, 200, 250, 300, 999])
def test_history_intervals_consistent_with_time_filter(spark, t):
    """The interval predicate reproduces time_filter's snapshot rule."""
    h = _hist(spark, [(0, 1, 1, 100, True), (0, 1, 2, 200, True),
                      (0, 1, 3, 300, False), (0, 2, 1, 150, True),
                      (0, 3, 1, 120, False)])
    iv = history_intervals(h)
    via_iv = {
        (r.id, r.version)
        for r in iv.filter(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
            & ~F.col("is_delete")
        ).collect()
    }
    via_tf = {(r.id, r.version) for r in time_filter(h, t).collect()}
    assert via_iv == via_tf


# --------------------------------------------------------- augment_crops
def _imgs(spark, n=50):
    return spark.createDataFrame(
        [(i, 320 + (i % 7) * 64, 200 + (i % 5) * 80) for i in range(n)],
        "image_id long, w int, h int")


def test_augment_crops_in_bounds(spark):
    rows = augment_crops(_imgs(spark), epoch=0).collect()
    imgs = {r.image_id: r for r in _imgs(spark).collect()}
    assert len(rows) == 50
    for r in rows:
        w, h = imgs[r.image_id].w, imgs[r.image_id].h
        assert 1 <= r.crop_w <= w and 1 <= r.crop_h <= h
        assert 0 <= r.crop_x <= w - r.crop_w
        assert 0 <= r.crop_y <= h - r.crop_h
        # aspect-preserving scale: same pct both axes (floor)
        assert abs(r.crop_w * h - r.crop_h * w) < max(w, h)


def test_augment_crops_deterministic_and_epoch_varies(spark):
    a = sorted(map(tuple, augment_crops(_imgs(spark), epoch=5).collect()))
    b = sorted(map(tuple, augment_crops(_imgs(spark), epoch=5).collect()))
    c = sorted(map(tuple, augment_crops(_imgs(spark), epoch=6).collect()))
    assert a == b
    assert a != c  # epochs decorrelated
    # flip is roughly balanced across the corpus (hash-uniform)
    flips = sum(1 for r in a if r[6])
    assert 10 <= flips <= 40


def test_augment_crops_full_scale_identity_possible(spark):
    """min_scale_pct=100 -> crop is always the full frame, origin 0."""
    rows = augment_crops(_imgs(spark), epoch=1, min_scale_pct=100).collect()
    imgs = {r.image_id: r for r in _imgs(spark).collect()}
    for r in rows:
        assert (r.crop_x, r.crop_y) == (0, 0)
        assert r.crop_w == imgs[r.image_id].w
        assert r.crop_h == imgs[r.image_id].h


def test_augment_crops_bad_pct(spark):
    with pytest.raises(ValueError, match="min_scale_pct"):
        augment_crops(_imgs(spark), epoch=0, min_scale_pct=0)


# ----------------------------------------------------- property coverage
def test_sin_poly_error_bound():
    """sin_poly stays within 7e-10 of true sin over [-pi/2, pi/2] —
    pure numpy check of the degree-13 Taylor bound the geodesic-area
    docstring claims (no Spark needed)."""
    import numpy as np

    from osmium_tool_spark.operators.export import SIN_POLY_COEFFS

    x = np.linspace(-math.pi / 2, math.pi / 2, 200001)
    x2 = x * x
    acc = np.full_like(x, SIN_POLY_COEFFS[-1])
    for c in reversed(SIN_POLY_COEFFS[:-1]):
        acc = c + x2 * acc
    approx = x * (1.0 + x2 * acc)
    assert float(np.max(np.abs(approx - np.sin(x)))) < 7e-10


def test_dist_join_hypothesis_bruteforce(spark):
    """Randomized completeness/exactness: arbitrary point sets and
    radii across cell resolutions == O(n^2) brute force."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    coord = st.tuples(
        st.integers(min_value=-1_800_000_000, max_value=1_799_999_999),
        st.integers(min_value=-900_000_000, max_value=899_999_999),
    )

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        pts=st.lists(coord, min_size=2, max_size=25),
        radius=st.sampled_from(
            [1_000, 5_000_000, 87_654_321, 400_000_000, 1_800_000_000]
        ),
    )
    def check(pts, radius):
        rows = [(i, lo, la) for i, (lo, la) in enumerate(pts)]
        got = {
            (r.id_a, r.id_b, r.dist2)
            for r in dist_join(_points(spark, rows), radius).collect()
        }
        want = set()
        for i, (xa, ya) in enumerate(pts):
            for j in range(i + 1, len(pts)):
                xb, yb = pts[j]
                d2 = (xa - xb) ** 2 + (ya - yb) ** 2
                if d2 <= radius * radius:
                    want.add((i, j, d2))
        assert got == want

    check()
