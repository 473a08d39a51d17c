"""tags-filter parity vs reference goldens (test/tags-filter/output-*.osm)."""

import pytest

from osmium_tool_spark.functions.tagexpr import CompiledFilter, FilterExpression, StringMatcher
from osmium_tool_spark.operators.tags_filter import tags_filter
from tests import fixtures


def result_set(df):
    return {(r["type"], r["id"]) for r in df.select("type", "id").collect()}


@pytest.fixture(scope="module")
def inp(spark):
    df = fixtures.tags_filter_input(spark).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def site(spark):
    df = fixtures.tags_filter_site(spark).cache()
    df.count()
    return df


class TestExpressionParser:
    def test_types_prefix(self):
        fe = FilterExpression.parse("nw/highway")
        assert fe.types == frozenset("nw")
        assert FilterExpression.parse("highway").types == frozenset("nwr")
        assert FilterExpression.parse("/highway").types == frozenset("nwr")
        with pytest.raises(ValueError):
            FilterExpression.parse("x/highway")

    def test_string_matchers(self):
        assert StringMatcher.parse("*").kind == "always"
        assert StringMatcher.parse("abc").kind == "equal"
        assert StringMatcher.parse("a,b,c") == StringMatcher("list", ("a", "b", "c"))
        assert StringMatcher.parse("pre*") == StringMatcher("prefix", ("pre",))
        assert StringMatcher.parse("*sub") == StringMatcher("substring", ("sub",))
        assert StringMatcher.parse("*sub*") == StringMatcher("substring", ("sub",))

    def test_invert_value(self):
        fe = FilterExpression.parse("highway!=primary")
        assert fe.matcher.invert


class TestTagsFilterGoldens:
    @pytest.mark.parametrize("key", sorted(fixtures.TAGS_FILTER_EXPECTED, key=str))
    def test_input_goldens(self, inp, key):
        expr, invert, omit = key
        got = result_set(tags_filter(inp, [expr], invert=invert, omit_referenced=omit))
        assert got == fixtures.TAGS_FILTER_EXPECTED[key], key

    @pytest.mark.parametrize("key", sorted(fixtures.TAGS_FILTER_SITE_EXPECTED, key=str))
    def test_site_goldens(self, site, key):
        expr, invert, omit = key
        got = result_set(tags_filter(site, [expr], invert=invert, omit_referenced=omit))
        assert got == fixtures.TAGS_FILTER_SITE_EXPECTED[key], key

    def test_remove_tags(self, inp):
        # -t w/highway (output-highway-t.osm): same ids, referenced objects
        # lose their tags (nodes 10-13 have none anyway; check way stays)
        df = tags_filter(inp, ["w/highway"], remove_tags=True)
        rows = {(r["type"], r["id"]): r["tags"] for r in df.collect()}
        assert set(rows) == fixtures.TAGS_FILTER_EXPECTED[("w/highway", False, False)]
        assert rows[(1, 20)] == {"highway": "primary"}  # matching keeps tags

    def test_remove_tags_site(self, site):
        # -t r/site (output-site-t.osm): r30 is referenced-only -> tags stripped
        df = tags_filter(site, ["r/site"], remove_tags=True)
        rows = {(r["type"], r["id"]): r["tags"] for r in df.collect()}
        assert rows[(2, 30)] == {}
        assert rows[(2, 31)] == {"site": "1"}

    def test_wildcard_and_list_values(self, inp):
        got = result_set(tags_filter(inp, ["highway=residential,primary"], omit_referenced=True))
        assert got == {(1, 20), (1, 21)}
        got = result_set(tags_filter(inp, ["n/highway=traffic*"], omit_referenced=True))
        assert got == {(0, 15)}
        got = result_set(tags_filter(inp, ["*way"], omit_referenced=True))
        # substring '*way' matches key 'highway' on n15, w20, w21
        assert got == {(0, 15), (1, 20), (1, 21)}

    def test_key_not_value(self, inp):
        got = result_set(tags_filter(inp, ["w/highway!=primary"], omit_referenced=True))
        assert got == {(1, 21)}


class TestAreaPseudoType:
    """'a/' matches closed ways with >=4 nodes and
    type=multipolygon/boundary relations (reference
    command_tags_filter.cpp:207-231, man/osmium-tags-filter.md:61-131)."""

    @pytest.fixture(scope="class")
    def area_input(self, spark):
        from tests.fixtures import _df, _node, _rel, _way
        from osmium_tool_spark.schema import WAY

        rows = [
            _node(1, 0, 0),
            _node(2, 1, 0),
            _node(3, 1, 1),
            # closed way, 5 refs, building tag -> area matches
            _way(10, [1, 2, 3, 1], {"building": "yes"}),
            # OPEN way with building tag -> 'a/' does NOT match
            _way(11, [1, 2, 3], {"building": "yes"}),
            # closed but only 3 refs (2 nodes + closure) -> too short
            _way(12, [1, 2, 1], {"building": "yes"}),
            # multipolygon relation with the tag -> area matches
            _rel(20, [(WAY, 10, "outer")], {"type": "multipolygon", "building": "yes"}),
            # plain relation with the tag -> not an area
            _rel(21, [(WAY, 10, "outer")], {"building": "yes"}),
        ]
        return _df(spark, rows)

    def test_area_bank(self, area_input):
        got = result_set(tags_filter(area_input, ["a/building"], omit_referenced=True))
        assert got == {(1, 10), (2, 20)}

    def test_area_plus_way_bank(self, area_input):
        # 'wa/' puts the matcher in BOTH banks: open ways match via 'w'
        got = result_set(tags_filter(area_input, ["wa/building"], omit_referenced=True))
        assert got == {(1, 10), (1, 11), (1, 12), (2, 20)}
