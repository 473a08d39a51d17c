"""Extract strategy parity vs the reference's golden outputs
(test/extract/input1.osm + output-simple/complete-ways/smart, bbox 0,0,1.5,10
per test/extract/CMakeLists.txt:10-50)."""

import pytest

from osmium_tool_spark.functions.geometry import Extract
from osmium_tool_spark.functions.idsets import broadcastable
from osmium_tool_spark.operators.extract import extract
from tests import fixtures


def result_set(df):
    return {(r["type"], r["id"]) for r in df.select("type", "id").collect()}


def mark_path_is(df, in_ram):
    return broadcastable(df.select("type", "id", "refs", "members")) is in_ram


BBOX = [Extract.bbox(0, 0, 0, 1.5, 10)]


@pytest.fixture(scope="module")
def input1(spark):
    df = fixtures.extract_input1(spark).cache()
    df.count()
    return df


class TestExtractInput1:
    """Each strategy, run once per path: the distributed twin below
    disables broadcasts, so the mark sets stay DataFrames."""

    in_ram = True  # the fixture is small enough to keep its mark sets on the driver

    def test_path(self, input1):
        assert mark_path_is(input1, self.in_ram)

    def test_simple(self, input1):
        got = result_set(extract(input1, BBOX, strategy="simple"))
        assert got == fixtures.EXTRACT1_EXPECTED["simple"]

    def test_complete_ways(self, input1):
        got = result_set(extract(input1, BBOX, strategy="complete_ways"))
        assert got == fixtures.EXTRACT1_EXPECTED["complete_ways"]

    def test_complete_ways_no_relations(self, input1):
        got = result_set(extract(input1, BBOX, strategy="complete_ways", relations=False))
        assert got == fixtures.EXTRACT1_EXPECTED["complete_ways_norels"]

    def test_smart(self, input1):
        got = result_set(extract(input1, BBOX, strategy="smart"))
        assert got == fixtures.EXTRACT1_EXPECTED["smart"]

    def test_smart_types_any_matches_smart_default_here(self, input1):
        # with types=any every marked relation completes its members;
        # on input1 r31..r36 only r34 has w21 to add, r31/r32 members already
        # decided; r32 (n13, outside) never marked
        got = result_set(extract(input1, BBOX, strategy="smart", smart_types=[]))
        assert got == fixtures.EXTRACT1_EXPECTED["smart"]

    def test_smart_nonmp_type_no_completion(self, input1):
        # -S types=boundary: r34 is multipolygon, does not qualify -> same as
        # complete_ways result (output-smart-nonmp.osm analog)
        got = result_set(extract(input1, BBOX, strategy="smart", smart_types=["boundary"]))
        assert got == fixtures.EXTRACT1_EXPECTED["complete_ways"]

    def test_polygon_region_same_as_bbox(self, input1):
        # a polygon covering the same half-plane must match the bbox result
        import numpy as np

        from osmium_tool_spark.functions.geometry import normalize_ring
        from osmium_tool_spark.schema import fp

        ring = normalize_ring(
            np.array(
                [(fp(0), fp(0)), (fp(1.5), fp(0)), (fp(1.5), fp(10)), (fp(0), fp(10))],
                dtype=np.int64,
            ),
            outer=True,
        )
        got = result_set(extract(input1, [Extract.polygon(0, [ring])], strategy="simple"))
        assert got == fixtures.EXTRACT1_EXPECTED["simple"]

    def test_multi_extract_assignment(self, input1):
        # two disjoint regions in one pass -> per-extract tile assignment
        exs = [Extract.bbox(0, 0, 0, 1.5, 10), Extract.bbox(1, 1.6, 0, 3, 10)]
        df = extract(input1, exs, strategy="simple")
        got = {(r["extract_id"], r["type"], r["id"]) for r in df.collect()}
        exp0 = {(0, t, i) for t, i in fixtures.EXTRACT1_EXPECTED["simple"]}
        # region 1 holds nodes 13..16 (lon=2), ways touching them: w20 (n13), w21
        exp1 = {
            (1, 0, 13), (1, 0, 14), (1, 0, 15), (1, 0, 16),
            (1, 1, 20), (1, 1, 21),
            # relations via first-n/w-member rule: r32(n13 marked), r33(w20),
            # r34(w20); r31's first member n10 unmarked
            (1, 2, 32), (1, 2, 33), (1, 2, 34),
        }
        assert got == exp0 | exp1

    def test_output_order_contract(self, input1):
        rows = extract(input1, BBOX, strategy="complete_ways").collect()
        keys = [(r["type"], abs(r["id"]) if r["id"] < 0 else r["id"]) for r in rows]
        assert keys == sorted(keys)


@pytest.mark.usefixtures("distributed_ids")
class TestExtractInput1Distributed(TestExtractInput1):
    in_ram = False


class TestExtractHistory:
    """complete_ways_with_history: marks ids when ANY version matches, emits
    EVERY version of marked ids (reference
    strategy_complete_ways_with_history.cpp:30-188)."""

    in_ram = True

    def test_path(self, spark):
        assert mark_path_is(fixtures.history_input(spark), self.in_ram)

    def test_all_versions_of_marked_ids(self, spark):
        from osmium_tool_spark.schema import NODE, WAY

        hist = fixtures.history_input(spark)
        # bbox catches node 1 v1/v2 locations but NOT node 2's
        out = extract(
            hist, [Extract.bbox(0, 0.5, 0.5, 1.4, 3.0)],
            strategy="complete_ways_with_history",
        )
        got = {(r.type, r.id, r.version) for r in out.collect()}
        # node 1: all 3 versions (incl. the delete); node 2: pulled in as an
        # extra node of marked way 10 (both its versions); way 10: both versions
        assert got == {
            (NODE, 1, 1), (NODE, 1, 2), (NODE, 1, 3),
            (NODE, 2, 1), (NODE, 2, 2),
            (WAY, 10, 1), (WAY, 10, 2),
        }


@pytest.mark.usefixtures("distributed_ids")
class TestExtractHistoryDistributed(TestExtractHistory):
    in_ram = False


class TestAntimeridian:
    """A region spanning +/-180 is expressed as two polygons (reference
    fixture test/extract/antimeridian.opl + CMakeLists.txt:52-63) — pure
    even-odd per polygon, no special-casing."""

    def test_two_polygon_region(self, spark):
        import numpy as np

        from osmium_tool_spark.functions.geometry import Extract
        from osmium_tool_spark.operators.extract import assign_extracts
        from tests.fixtures import _df, _node

        rows = [
            _node(1, 179.5, 0.0),    # east side of the antimeridian
            _node(2, -179.5, 0.0),   # west side
            _node(3, 0.0, 0.0),      # far away
            _node(4, 178.0, 0.0),    # outside both halves
        ]
        nodes = _df(spark, rows)

        def ring(pts):
            return np.array([( int(x * 10**7), int(y * 10**7)) for x, y in pts], dtype=np.int64)

        east = ring([(179, -1), (180, -1), (180, 1), (179, 1), (179, -1)])
        west = ring([(-180, -1), (-179, -1), (-179, 1), (-180, 1), (-180, -1)])
        # same extract_id for both halves = one logical region
        out = assign_extracts(nodes, [Extract.polygon(0, [east]), Extract.polygon(0, [west])])
        got = {r.id for r in out.collect()}
        assert got == {1, 2}


class TestSmartTagsFilter:
    """-S tags= restricts which relations complete their members
    (strategy_smart.cpp:88-100,128-130)."""

    in_ram = True

    def test_path(self, input1):
        assert mark_path_is(input1, self.in_ram)

    def test_smart_tags_gate(self, spark, input1):
        from osmium_tool_spark.operators.extract import extract
        from osmium_tool_spark.functions.geometry import Extract
        from osmium_tool_spark.schema import NODE, WAY

        # rel 34 is type=multipolygon; with a non-matching tags filter it
        # must NOT complete its members -> smart degrades to complete_ways
        out = extract(
            input1,
            [Extract.bbox(0, 0, 0, 1.5, 10)],
            strategy="smart",
            smart_types=[],  # any type
            smart_tags=["natural=water"],
        )
        got = {(r.type, r.id) for r in out.collect()}
        from tests.fixtures import EXTRACT1_EXPECTED

        assert got == EXTRACT1_EXPECTED["complete_ways"]

    def test_smart_tags_match_completes(self, spark, input1):
        from osmium_tool_spark.operators.extract import extract
        from osmium_tool_spark.functions.geometry import Extract
        from tests.fixtures import EXTRACT1_EXPECTED

        out = extract(
            input1,
            [Extract.bbox(0, 0, 0, 1.5, 10)],
            strategy="smart",
            smart_types=["multipolygon"],
            smart_tags=["type=multipolygon"],
        )
        got = {(r.type, r.id) for r in out.collect()}
        assert got == EXTRACT1_EXPECTED["smart"]

    def test_cli_tags_option(self, spark, input1, tmp_path):
        """`-S tags=` reaches the smart strategy: a non-matching filter
        degrades smart to complete_ways, as in test_smart_tags_gate."""
        from osmium_tool_spark.cli import main
        from tests.fixtures import EXTRACT1_EXPECTED

        src, out = str(tmp_path / "in.parquet"), str(tmp_path / "out.parquet")
        input1.write.parquet(src)
        argv = ["extract", src, "-b", "0,0,1.5,10", "-s", "smart", "-S", "types=any", "-o", out]
        assert main(argv + ["-S", "tags=natural=water"], spark=spark) == 0
        got = {(r.type, r.id) for r in spark.read.parquet(out).collect()}
        assert got == EXTRACT1_EXPECTED["complete_ways"]


@pytest.mark.usefixtures("distributed_ids")
class TestSmartTagsFilterDistributed(TestSmartTagsFilter):
    in_ram = False
