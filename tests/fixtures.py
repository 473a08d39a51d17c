"""Transliterations of the reference's golden test fixtures into entity
DataFrames (FIXTURES.md §B), so operator semantics can be checked
row-for-row against osmium-tool's committed expected outputs.

Sources (osmium-tool test suite): test/extract/input1.osm,
test/tags-filter/input.osm, test/tags-filter/input-site.osm,
test/extract/antimeridian.opl, test/sort + test/merge inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from osmium_tool_spark.schema import ENTITY_SCHEMA, NODE, RELATION, WAY, fp

_TS = 1420074000  # 2015-01-01T01:00:00Z
_META = dict(version=1, visible=True, changeset=1, ts=_TS, uid=1, user="test")


def _node(id, lon, lat, tags=None, **kw):
    m = {**_META, **kw}
    return dict(
        type=NODE, id=id, tags=tags or {}, lon=fp(lon), lat=fp(lat), refs=None, members=None, **m
    )


def _way(id, refs, tags=None, **kw):
    m = {**_META, **kw}
    return dict(type=WAY, id=id, tags=tags or {}, lon=None, lat=None, refs=list(refs), members=None, **m)


def _rel(id, members, tags=None, **kw):
    """members: list of (mtype, ref, role)."""
    m = {**_META, **kw}
    return dict(
        type=RELATION,
        id=id,
        tags=tags or {},
        lon=None,
        lat=None,
        refs=None,
        members=[dict(mtype=t, ref=r, role=role) for t, r, role in members],
        **m,
    )


def _df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Rows as an Arrow-backed local relation: its plan knows its size,
    so Spark broadcasts it like any other small input (a frame made from
    a Python list is an RDD of unknown size)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(ENTITY_SCHEMA))
    return spark.createDataFrame(table, schema=ENTITY_SCHEMA)


def extract_input1(spark: SparkSession) -> DataFrame:
    """test/extract/input1.osm:3-40."""
    rows = [
        _node(10, 1, 0),
        _node(11, 1, 1),
        _node(12, 1, 2),
        _node(13, 2, 3),
        _node(14, 2, 4),
        _node(15, 2, 5),
        _node(16, 2, 6),
        _way(20, [11, 12, 13], {"foo": "bar"}),
        _way(21, [14, 15], {"xyz": "abc"}),
        _rel(31, [(NODE, 10, "")]),
        _rel(32, [(NODE, 13, "")]),
        _rel(33, [(WAY, 20, "")]),
        _rel(34, [(WAY, 20, ""), (WAY, 21, "")], {"type": "multipolygon"}),
        _rel(35, [(RELATION, 31, "")]),
        _rel(36, [(RELATION, 35, "")]),
    ]
    return _df(spark, rows)


# golden expected id sets for bbox (0,0,1.5,10) per strategy
# (test/extract/output-simple.osm, output-complete-ways.osm, output-smart.osm)
EXTRACT1_EXPECTED = {
    "simple": {(NODE, 10), (NODE, 11), (NODE, 12), (WAY, 20), (RELATION, 31), (RELATION, 33), (RELATION, 34)},
    "complete_ways": {
        (NODE, 10), (NODE, 11), (NODE, 12), (NODE, 13),
        (WAY, 20),
        (RELATION, 31), (RELATION, 33), (RELATION, 34), (RELATION, 35), (RELATION, 36),
    },
    "complete_ways_norels": {(NODE, 10), (NODE, 11), (NODE, 12), (NODE, 13), (WAY, 20)},
    "smart": {
        (NODE, 10), (NODE, 11), (NODE, 12), (NODE, 13), (NODE, 14), (NODE, 15),
        (WAY, 20), (WAY, 21),
        (RELATION, 31), (RELATION, 33), (RELATION, 34), (RELATION, 35), (RELATION, 36),
    },
}


def tags_filter_input(spark: SparkSession) -> DataFrame:
    """test/tags-filter/input.osm:3-32."""
    rows = [
        _node(10, 1, 1),
        _node(11, 1, 2, {"barrier": "gate"}),
        _node(12, 1, 3),
        _node(13, 1, 4),
        _node(14, 1, 5, {"amenity": "post_box"}),
        _node(15, 1, 6, {"highway": "traffic_signals"}),
        _way(20, [10, 11, 12], {"highway": "primary"}),
        _way(21, [12, 13], {"highway": "residential", "note": "test"}),
        _rel(30, [(NODE, 12, "m1"), (WAY, 20, "m2")], {"note": "test"}),
    ]
    return _df(spark, rows)


# golden expected (type,id) sets from test/tags-filter/output-*.osm
TAGS_FILTER_EXPECTED = {
    # (expressions, invert, omit_referenced) -> set
    ("n/amenity", False, False): {(NODE, 14)},
    ("n/amenity", False, True): {(NODE, 14)},
    ("w/highway", False, True): {(WAY, 20), (WAY, 21)},
    ("note", False, True): {(WAY, 21), (RELATION, 30)},
    ("note", True, True): {(NODE, 10), (NODE, 11), (NODE, 12), (NODE, 13), (NODE, 14), (NODE, 15), (WAY, 20)},
    ("w/highway", False, False): {
        (NODE, 10), (NODE, 11), (NODE, 12), (NODE, 13), (WAY, 20), (WAY, 21),
    },
    ("w/highway", True, False): {
        (NODE, 10), (NODE, 11), (NODE, 12), (NODE, 13), (NODE, 14), (NODE, 15),
        (WAY, 20), (RELATION, 30),
    },
    ("r/note", False, False): {(NODE, 10), (NODE, 11), (NODE, 12), (WAY, 20), (RELATION, 30)},
}


def tags_filter_site(spark: SparkSession) -> DataFrame:
    """test/tags-filter/input-site.osm — nested site relations for
    recursive rel-in-rel closure."""
    rows = [
        _node(10, 1, 1),
        _node(11, 1, 2, {"barrier": "gate"}),
        _node(12, 1, 3),
        _node(13, 1, 4),
        _way(20, [10, 11, 12], {"highway": "primary"}),
        _way(21, [13], {"highway": "primary"}),
        _rel(30, [(NODE, 12, "m1"), (WAY, 20, "m2")], {"note": "test"}),
        _rel(31, [(RELATION, 30, "m1")], {"site": "1"}),
        _rel(32, [(RELATION, 31, "m1")], {"site": "2"}),
    ]
    return _df(spark, rows)


# golden expected sets from test/tags-filter/output-site-*.osm
TAGS_FILTER_SITE_EXPECTED = {
    ("r/site=1", False, False): {(NODE, 10), (NODE, 11), (NODE, 12), (WAY, 20), (RELATION, 30), (RELATION, 31)},
    ("r/site=2", False, False): {
        (NODE, 10), (NODE, 11), (NODE, 12), (WAY, 20), (RELATION, 30), (RELATION, 31), (RELATION, 32),
    },
    ("r/site=2", False, True): {(RELATION, 32)},
    ("r/site", False, True): {(RELATION, 31), (RELATION, 32)},
    ("r/site", False, False): {
        (NODE, 10), (NODE, 11), (NODE, 12), (WAY, 20), (RELATION, 30), (RELATION, 31), (RELATION, 32),
    },
}


def sort_input_neg(spark: SparkSession) -> DataFrame:
    """man/osmium-sort.md:16-23 — negative ids sort before positive, both by
    absolute value."""
    rows = [
        _node(3, 1, 1),
        _node(-2, 1, 2),
        _node(1, 1, 3),
        _node(-7, 1, 4),
        _way(5, [1, 3]),
        _way(-4, [1, 3]),
    ]
    return _df(spark, rows)


def history_input(spark: SparkSession) -> DataFrame:
    """Multi-version history analog of test/sort input-history / time-filter
    fixtures: object versions with visible flags and increasing timestamps."""
    t0 = 1000
    rows = [
        _node(1, 1, 1, {"v": "a"}, version=1, ts=t0),
        _node(1, 1, 1.5, {"v": "b"}, version=2, ts=t0 + 100),
        _node(1, 1, 2, {}, version=3, ts=t0 + 200, visible=False),
        _node(2, 2, 1, {"v": "x"}, version=1, ts=t0 + 50),
        _node(2, 2, 1.2, {"v": "y"}, version=2, ts=t0 + 150),
        _way(10, [1, 2], {"w": "1"}, version=1, ts=t0 + 60),
        _way(10, [1, 2], {"w": "2"}, version=2, ts=t0 + 160),
    ]
    return _df(spark, rows)
