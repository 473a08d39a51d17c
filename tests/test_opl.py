"""OPL reader/writer round-trip + format semantics."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.schema import NODE, RELATION, WAY
from tests.fixtures import _df, _node, _rel, _way
from osmium_tool_spark.sources.opl import read_opl, write_opl

SAMPLE = """\
n100 v1 dV c7 t2021-06-01T12:00:00Z i5 ualice T x13.5 y-47.25
n101 v2 dD c8 t2021-06-02T12:00:00Z i5 ualice T
n102 v1 dV c7 t2021-06-01T12:00:00Z i6 ubob%20%x Thighway=crossing,name=a%20%b x-180 y90
w200 v1 dV c9 t2021-06-03T00:00:00Z i5 ualice Thighway=primary Nn100,n101,n102
r300 v1 dV c9 t2021-06-03T00:00:00Z i5 ualice Ttype=multipolygon Mw200@outer,n100@
"""


@pytest.fixture(scope="module")
def opl_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("opl") / "sample.opl"
    p.write_text(SAMPLE)
    return str(p)


def test_read_opl_fields(spark, opl_path):
    df = read_opl(spark, opl_path)
    rows = {(r.type, r.id): r for r in df.collect()}
    n = rows[(NODE, 100)]
    assert n.version == 1 and n.visible and n.changeset == 7
    assert n.lon == 135000000 and n.lat == -472500000
    # canonical ts unit is epoch MICROS (matches parquet-derived entities)
    assert n.ts == 1622548800 * 1_000_000
    assert rows[(NODE, 101)].visible is False
    esc = rows[(NODE, 102)]
    assert esc.user == "bob x"                      # %20% -> space
    assert esc.tags["name"] == "a b"
    assert esc.lon == -1800000000 and esc.lat == 900000000
    w = rows[(WAY, 200)]
    assert w.refs == [100, 101, 102] and w.tags["highway"] == "primary"
    r = rows[(RELATION, 300)]
    assert [(m.mtype, m.ref, m.role) for m in r.members] == [(WAY, 200, "outer"), (NODE, 100, "")]


def test_opl_roundtrip(spark, tmp_path):
    ents = _df(
        spark,
        [
            _node(1, 1.5, -2.25, {"name": "a b", "k,v": "x=y"}),
            _node(2, 0.0, 0.0),
            _way(10, [1, 2], {"highway": "primary"}),
            _rel(20, [(WAY, 10, "outer"), (NODE, 1, "")], {"type": "multipolygon"}),
        ],
    )
    out = str(tmp_path / "rt.opl")
    write_opl(ents, out)
    back = read_opl(spark, out)
    a = {(r.type, r.id): r for r in ents.collect()}
    b = {(r.type, r.id): r for r in back.collect()}
    assert set(a) == set(b)
    for k in a:
        assert dict(a[k].tags or {}) == dict(b[k].tags or {}), k
        assert a[k].lon == b[k].lon and a[k].lat == b[k].lat, k
        assert a[k].refs == b[k].refs, k
        am = [(m.mtype, m.ref, m.role) for m in (a[k].members or [])]
        bm = [(m.mtype, m.ref, m.role) for m in (b[k].members or [])]
        assert am == bm, k


def test_opl_through_extract(spark, opl_path):
    """OPL input drives the extract operator end-to-end (the reference's
    antimeridian fixtures are .opl)."""
    from osmium_tool_spark.functions.geometry import Extract
    from osmium_tool_spark.operators.extract import extract

    ents = read_opl(spark, opl_path)
    out = extract(ents, [Extract.bbox(0, 10, -50, 20, -40)], strategy="simple")
    got = {(r.type, r.id) for r in out.collect()}
    assert (NODE, 100) in got
    assert (WAY, 200) in got  # way touches marked node 100


class TestJvmOplSerializerParity:
    """opl_line_col (JVM codegen OPL renderer) byte-equal to
    _make_serializer (the Python oracle) over edge rows: %-escaping in
    user/tags/roles, anonymous/unset metadata, deleted objects,
    negative/zero coordinates, empty refs/members."""

    def test_column_equals_python(self, spark):
        from osmium_tool_spark.sinks.osmxml import _entries_iter
        from osmium_tool_spark.sources.opl import _make_serializer, opl_line_col

        rows = [
            (0, 10, 1, True, 1, 1420074000000000, 1, "test", {"a": "b"},
             15000000, 7000001, None, None),
            (0, -3, None, None, None, None, None, "", {}, -1800000000,
             900000000, None, None),
            (0, 11, 2, False, 5, 86399000000, 9, "we ird,n=me@x%",
             {"k =": "v,@%\n"}, 0, -5, None, None),
            (0, 12, 1, True, 1, 1420074000000000, 1, "t", {}, None, None,
             None, None),
            (1, 20, 1, True, 1, 1420074000000000, 1, "test", {"x": "y"},
             None, None, [10, 11, 12], None),
            (1, 21, 1, True, 1, 1420074000000000, 1, "test", {}, None, None,
             [], None),
            (2, 30, 1, True, 1, 1420074000000000, 1, "test", {}, None, None,
             None, [{"mtype": 0, "ref": 10, "role": "a role,= @%"},
                    {"mtype": 1, "ref": 20, "role": ""},
                    {"mtype": 2, "ref": 31, "role": None}]),
        ]
        schema = (
            "type int, id long, version int, visible boolean, changeset long, "
            "ts long, uid int, user string, tags map<string,string>, lon long, "
            "lat long, refs array<long>, "
            "members array<struct<mtype:int,ref:long,role:string>>"
        )
        df = spark.createDataFrame(rows, schema)
        for omit in (frozenset(), frozenset({"uid"})):
            got = [r.v for r in df.select(opl_line_col(omit).alias("v")).collect()]
            ser = _make_serializer(omit)
            want = [ser(r) for r in _entries_iter(df)]
            assert got == want, f"omit={omit}"
