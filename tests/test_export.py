"""export: feature assembly + GeoJSON/PG serialization.

Expected values mirror the reference's export semantics
(/root/reference/src/export/export_handler.cpp:42-157, coordinate
formatting export_format_json.cpp:201-211)."""

import json

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.export import (
    coord_str,
    features,
    locations_join,
    to_geojsonseq,
    to_pg,
)
from osmium_tool_spark.schema import NODE, WAY, fp
from tests.fixtures import _df, _node, _rel, _way


@pytest.fixture(scope="module")
def ents(spark):
    rows = [
        _node(1, 1.0, 1.0, {"amenity": "cafe"}),
        _node(2, 1.25, 1.0),          # untagged -> no point feature
        _node(3, 1.25, 1.25),
        _node(4, 1.0, 1.25),
        _node(5, 2.0, 2.0, {"name": "x"}),
        # open way -> LineString
        _way(20, [1, 2, 3], {"highway": "road"}),
        # closed way with area tag -> Polygon
        _way(21, [1, 2, 3, 4, 1], {"building": "yes"}),
        # closed way, area=no override -> LineString
        _way(22, [1, 2, 3, 4, 1], {"building": "yes", "area": "no"}),
        # closed way, no area tags -> LineString (linear default)
        _way(23, [1, 2, 3, 4, 1], {"barrier": "wall"}),
        # multipolygon relation from two half-rings
        _way(24, [1, 2, 3], {}),
        _way(25, [3, 4, 1], {}),
        _rel(30, [(WAY, 24, "outer"), (WAY, 25, "outer")], {"type": "multipolygon", "landuse": "farm"}),
    ]
    return _df(spark, rows)


def test_coord_formatting(spark):
    df = spark.createDataFrame(
        [(fp(1.0),), (fp(1.23),), (fp(-0.1234567),), (fp(100.0),)], "v int"
    )
    got = [r[0] for r in df.select(coord_str(F.col("v"))).collect()]
    # GeoJSON rule (export_format_json.cpp:201-211): trailing zeros trimmed
    # but at least one fractional digit kept ('1.0', never '1')
    assert got == ["1.0", "1.23", "-0.1234567", "100.0"]
    from osmium_tool_spark.operators.export import coord_str_compact

    compact = [r[0] for r in df.select(coord_str_compact(F.col("v"))).collect()]
    # WKT rule: bare dot dropped too
    assert compact == ["1", "1.23", "-0.1234567", "100"]


def test_feature_classification(ents):
    # reference default rulesets: closed tagged ways (without an explicit
    # area tag) emit BOTH a linestring and an area (way-all.txt parity)
    f = features(ents)
    by_key = {}
    for r in f.collect():
        by_key.setdefault((r.type, r.id), set()).add(r.ftype)
    assert by_key[(NODE, 1)] == {"point"}
    assert (NODE, 2) not in by_key  # untagged node dropped
    assert by_key[(WAY, 20)] == {"linestring"}          # open way
    assert by_key[(WAY, 21)] == {"linestring", "polygon"}
    assert by_key[(WAY, 22)] == {"linestring"}          # area=no forces linear
    assert by_key[(WAY, 23)] == {"linestring", "polygon"}
    assert by_key[(2, 30)] == {"multipolygon"}
    # explicit rulesets restore exclusive behavior
    excl = features(ents, linear_tags=["highway", "barrier"], area_tags=["building"])
    by_key2 = {}
    for r in excl.collect():
        by_key2.setdefault((r.type, r.id), set()).add(r.ftype)
    assert by_key2[(WAY, 21)] == {"polygon"}
    assert by_key2[(WAY, 23)] == {"linestring"}


def test_point_geometry_json(ents):
    f = features(ents).filter((F.col("type") == NODE) & (F.col("id") == 1))
    geom = json.loads(f.collect()[0].geometry)
    assert geom == {"type": "Point", "coordinates": [1, 1]}


def test_linestring_order(ents):
    f = features(ents).filter((F.col("type") == WAY) & (F.col("id") == 20))
    geom = json.loads(f.collect()[0].geometry)
    assert geom["coordinates"] == [[1, 1], [1.25, 1], [1.25, 1.25]]


def test_multipolygon_ring_stitching(ents):
    f = features(ents).filter(F.col("ftype") == "multipolygon")
    geom = json.loads(f.collect()[0].geometry)
    ring = geom["coordinates"][0][0]
    assert ring[0] == ring[-1]  # closed
    assert len(ring) == 5       # 4 distinct points + closure
    pts = {tuple(p) for p in ring}
    assert pts == {(1, 1), (1.25, 1), (1.25, 1.25), (1, 1.25)}


def test_locations_join_missing_node(spark):
    ents = _df(spark, [_node(1, 0.0, 0.0), _way(9, [1, 999], {})])
    wc = locations_join(
        ents.filter(F.col("type") == WAY), ents.filter(F.col("type") == NODE)
    )
    coords = wc.collect()[0].coords
    assert coords[0]["__lon"] == 0 and coords[1]["__lon"] is None


def test_geojsonseq_and_pg(ents):
    f = features(ents).filter(F.col("ftype") == "point")
    feat = json.loads(to_geojsonseq(f).collect()[0].feature)
    assert feat["type"] == "Feature" and feat["properties"]
    # default pg format: EWKB hex geometry + tab + tags json (2 cols)
    rows = to_pg(f).collect()
    assert all(len(r.row.split("\t")) == 2 for r in rows)
    assert all(r.row.startswith("0101000020E6100000") for r in rows)  # SRID point


def test_filter_tags_include_exclude(ents):
    from osmium_tool_spark.operators.export import filter_tags

    f = features(ents).filter(F.col("ftype") == "point")
    inc = filter_tags(f, include_tags=["amen*"])
    tags = {r.id: dict(r.tags) for r in inc.collect()}
    assert tags[1] == {"amenity": "cafe"}
    assert tags[5] == {}
    exc = filter_tags(f, exclude_tags=["name"])
    tags = {r.id: dict(r.tags) for r in exc.collect()}
    assert tags[5] == {}
    assert tags[1] == {"amenity": "cafe"}


def test_with_attributes(ents):
    import json as _json

    from osmium_tool_spark.operators.export import to_geojsonseq, with_attributes

    f = features(ents).filter((F.col("type") == NODE) & (F.col("id") == 1))
    fa = with_attributes(f, ents, ["id", "type", "version"])
    feat = _json.loads(to_geojsonseq(fa).collect()[0].feature)
    props = feat["properties"]
    assert props["@id"] == "1" and props["@type"] == "node" and props["@version"] == "1"
    assert props["amenity"] == "cafe"


def test_multipolygon_hole_classification(spark):
    """Outer + inner ring -> one polygon with a hole (outer CCW, inner CW,
    hole grouped under its containing outer)."""
    from tests.fixtures import _df, _node, _rel, _way
    from osmium_tool_spark.schema import WAY

    rows = [
        _node(1, 0.0, 0.0), _node(2, 4.0, 0.0), _node(3, 4.0, 4.0), _node(4, 0.0, 4.0),
        _node(5, 1.0, 1.0), _node(6, 3.0, 1.0), _node(7, 3.0, 3.0), _node(8, 1.0, 3.0),
        _way(20, [1, 2, 3, 4, 1], {}),
        _way(21, [5, 6, 7, 8, 5], {}),
        _rel(30, [(WAY, 20, "outer"), (WAY, 21, "inner")], {"type": "multipolygon", "landuse": "forest"}),
    ]
    f = features(_df(spark, rows)).filter(F.col("ftype") == "multipolygon")
    geom = json.loads(f.collect()[0].geometry)
    assert len(geom["coordinates"]) == 1          # one polygon
    outer, hole = geom["coordinates"][0]
    # outer CCW (shoelace > 0), hole CW
    def area2(r):
        return sum(r[i][0]*r[i+1][1] - r[i+1][0]*r[i][1] for i in range(len(r)-1))
    assert area2(outer) > 0 and area2(hole) < 0
    assert {tuple(p) for p in outer} == {(0, 0), (4, 0), (4, 4), (0, 4)}
    assert {tuple(p) for p in hole} == {(1, 1), (3, 1), (3, 3), (1, 3)}


def test_multipolygon_two_outers(spark):
    from tests.fixtures import _df, _node, _rel, _way
    from osmium_tool_spark.schema import WAY

    rows = [
        _node(1, 0.0, 0.0), _node(2, 1.0, 0.0), _node(3, 1.0, 1.0),
        _node(4, 5.0, 5.0), _node(5, 6.0, 5.0), _node(6, 6.0, 6.0),
        _way(20, [1, 2, 3, 1], {}),
        _way(21, [4, 5, 6, 4], {}),
        _rel(30, [(WAY, 20, "outer"), (WAY, 21, "outer")], {"type": "multipolygon", "landuse": "grass"}),
    ]
    f = features(_df(spark, rows)).filter(F.col("ftype") == "multipolygon")
    geom = json.loads(f.collect()[0].geometry)
    assert len(geom["coordinates"]) == 2          # two disjoint polygons
    assert all(len(poly) == 1 for poly in geom["coordinates"])


def test_filter_geometry_types(ents):
    import pytest as _pytest

    from osmium_tool_spark.operators.export import features, filter_geometry_types

    f = features(ents)
    pts = filter_geometry_types(f, ["point"])
    assert {r.ftype for r in pts.select("ftype").distinct().collect()} == {"point"}
    # polygon and multipolygon are one switch in the reference
    polys = filter_geometry_types(f, ["multipolygon"])
    assert set(
        r.ftype for r in polys.select("ftype").distinct().collect()
    ) <= {"polygon", "multipolygon"}
    with _pytest.raises(ValueError, match="Unknown geometry type"):
        filter_geometry_types(f, ["blob"])


def test_wkt_features_match_geojson_coords(ents):
    import json as _json

    from osmium_tool_spark.operators.export import features

    gj = {(r.ftype, r.id): r.geometry for r in features(ents).collect()}
    wkt = {(r.ftype, r.id): r.geometry for r in features(ents, geometry_format="wkt").collect()}
    assert set(gj) == set(wkt)
    for k, g in gj.items():
        geom = _json.loads(g)
        w = wkt[k]
        if geom["type"] == "Point":
            x, y = geom["coordinates"]
            assert w == f"POINT({x:g} {y:g})".replace("e+", "").rstrip() or "POINT(" in w
        assert w.startswith(
            {"Point": "POINT(", "LineString": "LINESTRING(",
             "Polygon": "POLYGON((", "MultiPolygon": "MULTIPOLYGON("}[geom["type"]]
        )


def test_counter_id_total_order_closed_way_both_features(spark):
    """unique_id='counter': a closed way that emits BOTH a linestring and
    a polygon shares (type,id); the ftype rank must make the counter
    assignment deterministic (linestring before polygon)."""
    rows = [
        _node(1, 1.0, 1.0),
        _node(2, 1.25, 1.0),
        _node(3, 1.25, 1.25),
        _node(4, 1.0, 1.25),
        # both linear_tags and area_tags match -> two features for way 21
        _way(21, [1, 2, 3, 4, 1], {"building": "yes", "highway": "x"}),
    ]
    e = _df(spark, rows)
    f = features(
        e, linear_tags=["highway"], area_tags=["building"]
    ).filter(F.col("type") == WAY)
    for _ in range(3):  # deterministic across runs
        feats = [
            json.loads(r.feature)
            for r in to_geojsonseq(f, unique_id="counter").collect()
        ]
        by_id = {ft["id"]: ft["geometry"]["type"] for ft in feats}
        # areas serialize as MultiPolygon (reference output.geojson parity)
        assert by_id == {1: "LineString", 2: "MultiPolygon"}


def test_attributes_latest_version_wins_on_history(spark):
    """with_attributes/attributes_props_json pick the HIGHEST version's
    metadata deterministically on multi-version input."""
    from osmium_tool_spark.operators.export import with_attributes

    rows = [
        _node(1, 1.0, 1.0, {"amenity": "cafe"}),
        _node(1, 1.0, 1.0, {"amenity": "cafe"}),
    ]
    e = _df(spark, rows)
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.monotonically_increasing_id())
    e = e.withColumn("version", F.row_number().over(w)).withColumn(
        "changeset", F.col("version").cast("long") * 100
    )
    f = features(e).filter(F.col("ftype") == "point")
    out = with_attributes(f, e, ["version", "changeset"])
    tags = out.collect()[0].tags
    assert tags["@version"] == "2" and tags["@changeset"] == "200"


# ---------------------------------------------------------------- way_length_m


class TestWayLength:
    def _hav(self, lon1, lat1, lon2, lat2):
        # python mirror of similarity.haversine_m over degree inputs
        import math

        p1, p2 = math.radians(lat1), math.radians(lat2)
        dp, dl = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
        a = (
            math.sin(dp / 2) * math.sin(dp / 2)
            + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
        )
        return round(2 * 6_371_008.8 * math.asin(math.sqrt(a)), 3)

    def test_two_node_equator_degree(self, spark):
        from osmium_tool_spark.operators.export import way_length_m

        ents = _df(spark, [_node(1, 0.0, 0.0), _node(2, 1.0, 0.0),
                           _way(9, [1, 2], {})])
        out = way_length_m(
            ents.filter(F.col("type") == WAY), ents.filter(F.col("type") == NODE)
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_nodes"] == 2
        assert r["length_m"] == pytest.approx(self._hav(0, 0, 1, 0), abs=1e-3)

    def test_sequential_fold_matches_python(self, spark):
        from osmium_tool_spark.operators.export import way_length_m

        pts = [(0.0, 0.0), (0.5, 0.25), (1.0, 0.75), (2.0, 0.75)]
        ents = _df(
            spark,
            [_node(i + 1, lo, la) for i, (lo, la) in enumerate(pts)]
            + [_way(9, [1, 2, 3, 4], {})],
        )
        out = way_length_m(
            ents.filter(F.col("type") == WAY), ents.filter(F.col("type") == NODE)
        ).collect()[0]
        want = 0.0
        for (lo1, la1), (lo2, la2) in zip(pts[:-1], pts[1:]):
            want += self._hav(lo1, la1, lo2, la2)
        assert out["n_nodes"] == 4
        assert out["length_m"] == pytest.approx(round(want, 3), abs=1e-3)

    def test_missing_ref_nulls_length(self, spark):
        from osmium_tool_spark.operators.export import way_length_m

        ents = _df(spark, [_node(1, 0.0, 0.0), _way(9, [1, 999], {})])
        out = way_length_m(
            ents.filter(F.col("type") == WAY), ents.filter(F.col("type") == NODE)
        ).collect()
        assert len(out) == 1 and out[0]["length_m"] is None

    def test_short_ways_dropped(self, spark):
        from osmium_tool_spark.operators.export import way_length_m

        ents = _df(spark, [_node(1, 0.0, 0.0), _way(8, [1], {}), _way(7, [], {})])
        out = way_length_m(
            ents.filter(F.col("type") == WAY), ents.filter(F.col("type") == NODE)
        ).collect()
        assert out == []

    def test_ref_order_respected_not_sorted_by_id(self, spark):
        from osmium_tool_spark.operators.export import way_length_m

        # zig-zag visiting order vs sorted order give different lengths
        ents = _df(spark, [_node(1, 0.0, 0.0), _node(2, 2.0, 0.0),
                           _node(3, 1.0, 0.0), _way(9, [1, 3, 2], {})])
        out = way_length_m(
            ents.filter(F.col("type") == WAY), ents.filter(F.col("type") == NODE)
        ).collect()[0]
        want = self._hav(0, 0, 1, 0) + self._hav(1, 0, 2, 0)
        assert out["length_m"] == pytest.approx(round(want, 3), abs=1e-3)
