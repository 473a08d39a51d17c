"""Row-for-row parity with reference golden outputs (transliterated from
/root/reference/test/apply-changes and test/diff fixtures)."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators import changes
from osmium_tool_spark.schema import NODE, RELATION, WAY
from tests.fixtures import _df, _node, _rel, _way

T1 = 1420074000  # 2015-01-01T01:00:00Z
T2 = 1420077600  # 2015-01-01T02:00:00Z


@pytest.fixture(scope="module")
def apply_base(spark):
    """test/apply-changes/input-data.osm"""
    return _df(spark, [
        _node(10, 1, 1),
        _node(11, 1, 2),
        _node(12, 1, 3),
        _node(13, 1, 4),
        _way(20, [10, 11, 12], {"foo": "bar"}),
        _way(21, [12, 13], {"xyz": "abc"}),
        _rel(30, [(NODE, 12, "m1"), (WAY, 20, "m2")]),
    ])


@pytest.fixture(scope="module")
def apply_change(spark):
    """test/apply-changes/input-change.osc (modify n11, delete n13,
    create n14, modify w21)."""
    kw = dict(version=2, ts=T2, changeset=2)
    return _df(spark, [
        _node(11, 2, 2, **kw),
        _node(13, 1, 4, visible=False, **kw),
        _node(14, 1, 5, version=1, ts=T2, changeset=2),
        _way(21, [12, 14], {"xyz": "new"}, **kw),
    ])


def test_apply_changes_golden(apply_base, apply_change):
    """Expected: test/apply-changes/output-data.osm, byte-for-byte fields."""
    out = changes.apply_changes(apply_base, [apply_change])
    rows = {(r.type, r.id): r for r in out.collect()}
    assert set(rows) == {
        (NODE, 10), (NODE, 11), (NODE, 12), (NODE, 14),
        (WAY, 20), (WAY, 21), (RELATION, 30),
    }
    n11 = rows[(NODE, 11)]
    assert (n11.version, n11.changeset, n11.ts, n11.lon, n11.lat) == (2, 2, T2, 20000000, 20000000)
    n14 = rows[(NODE, 14)]
    assert (n14.version, n14.lon, n14.lat) == (1, 10000000, 50000000)
    w21 = rows[(WAY, 21)]
    assert w21.version == 2 and w21.refs == [12, 14] and dict(w21.tags) == {"xyz": "new"}
    w20 = rows[(WAY, 20)]
    assert w20.version == 1 and w20.refs == [10, 11, 12]
    assert rows[(RELATION, 30)].version == 1


@pytest.fixture(scope="module")
def diff_left(spark):
    """test/diff/input1.osm"""
    return _df(spark, [
        _node(10, 1, 1),
        _node(11, 1, 2),
        _node(12, 1, 3),
        _node(13, 1, 4),
        _node(15, 1, 5, ts=T2, uid=2),
        _node(16, 2, 5, ts=T2),
        _way(20, [10, 11, 12], {"foo": "bar"}),
        _way(21, [12, 13], {"xyz": "abc"}),
        _rel(30, [(NODE, 12, "m1"), (WAY, 20, "m2")]),
    ])


@pytest.fixture(scope="module")
def diff_right(spark):
    """test/diff/input2.osm (reconstructed from output.opl's + side)."""
    kw = dict(version=2, ts=T2, changeset=2)
    return _df(spark, [
        _node(10, 1, 1),
        _node(11, 2, 2, **kw),
        _node(12, 1, 3),
        _node(14, 1, 5, version=1, ts=T2, changeset=2),
        _node(15, 1, 5, ts=T2, uid=1),   # uid differs from left
        _node(16, 1, 5, ts=T2),          # lon differs from left
        _way(20, [10, 11, 12], {"foo": "bar"}),
        _way(21, [12, 14], {"xyz": "new"}, **kw),
        _rel(30, [(NODE, 12, "m1"), (WAY, 20, "m2")]),
    ])


def test_diff_golden(diff_left, diff_right):
    """Expected statuses: test/diff/output-compact
    (' '=same, '-'=left, '+'=right, '*'=different)."""
    out = changes.diff(diff_left, diff_right)
    got = {(r.type, r.id, r.version): r.status for r in out.collect()}
    assert got == {
        (NODE, 10, 1): "same",
        (NODE, 11, 1): "left",
        (NODE, 11, 2): "right",
        (NODE, 12, 1): "same",
        (NODE, 13, 1): "left",
        (NODE, 14, 1): "right",
        (NODE, 15, 1): "different",   # uid differs
        (NODE, 16, 1): "different",   # location differs
        (WAY, 20, 1): "same",
        (WAY, 21, 1): "left",
        (WAY, 21, 2): "right",
        (RELATION, 30, 1): "same",
    }


def test_diff_golden_ignore_uid(diff_left, diff_right):
    """`--ignore-uid` flips n15 to same (test/diff output-compact-c-nouid)."""
    out = changes.diff(diff_left, diff_right, ignore={"uid"})
    got = {(r.type, r.id, r.version): r.status for r in out.collect()}
    assert got[(NODE, 15, 1)] == "same"
    assert got[(NODE, 16, 1)] == "different"


def test_renumber_golden_sorted(spark):
    """test/renumber/input-sorted.osm -> output-sorted.osm: negative ids
    first by |id| (-11 -> 1), dangling member node 13 gets fresh id 5."""
    from osmium_tool_spark.operators.idops import renumber

    ents = _df(spark, [
        _node(-11, 1, 1),
        _node(11, 1, 2),
        _node(12, 1, 3),
        _node(14, 1, 4),
        _way(20, [-11, 11, 12], {"foo": "bar"}),
        _way(21, [12, 14], {"xyz": "abc"}),
        _rel(30, [(NODE, 12, "m1"), (NODE, 13, "s1"), (WAY, 20, "m2")]),
    ])
    out = {(r.type, r.id): r for r in renumber(ents).collect()}
    assert {k for k in out if k[0] == NODE} == {(NODE, i) for i in (1, 2, 3, 4)}
    assert out[(WAY, 1)].refs == [1, 2, 3]
    assert out[(WAY, 2)].refs == [3, 4]
    mem = [(m.mtype, m.ref, m.role) for m in out[(RELATION, 1)].members]
    assert mem == [(NODE, 3, "m1"), (NODE, 5, "s1"), (WAY, 1, "m2")]


def test_renumber_golden_nodes_only(spark):
    """output-sorted-n.osm: --object-type n renumbers node ids and way
    refs but leaves way/relation ids untouched."""
    from osmium_tool_spark.operators.idops import renumber
    from osmium_tool_spark.schema import NODE as N

    ents = _df(spark, [
        _node(-11, 1, 1), _node(11, 1, 2), _node(12, 1, 3), _node(14, 1, 4),
        _way(20, [-11, 11, 12], {"foo": "bar"}),
        _way(21, [12, 14], {"xyz": "abc"}),
    ])
    out = {(r.type, r.id): r for r in renumber(ents, object_types=[N]).collect()}
    assert {k for k in out if k[0] == NODE} == {(NODE, i) for i in (1, 2, 3, 4)}
    assert (WAY, 20) in out and (WAY, 21) in out
    assert out[(WAY, 20)].refs == [1, 2, 3]


def test_renumber_goldens_distributed(spark, distributed_ids):
    """Both renumber goldens on the distributed path (the fixtures above
    are small enough to take the in-RAM one)."""
    test_renumber_golden_sorted(spark)
    test_renumber_golden_nodes_only(spark)


@pytest.fixture(scope="module")
def dc_old(spark):
    """test/derive-changes/input1.osm"""
    return _df(spark, [
        _node(10, 1, 1), _node(11, 1, 2), _node(12, 1, 3),
        _node(13, 1, 4, {"foo": "bar"}),
        _way(20, [10, 11, 12], {"foo": "bar"}),
        _way(21, [12, 13], {"xyz": "abc"}),
        _rel(30, [(NODE, 12, "m1"), (WAY, 20, "m2")]),
    ])


@pytest.fixture(scope="module")
def dc_new(spark):
    """test/derive-changes/input2.osm"""
    kw = dict(version=2, ts=T2, changeset=2)
    return _df(spark, [
        _node(10, 1, 1),
        _node(11, 2, 2, **kw),
        _node(12, 1, 3),
        _node(14, 1, 5, version=1, ts=T2, changeset=2),
        _way(20, [10, 11, 12], {"foo": "bar"}),
        _way(21, [12, 14], {"xyz": "new"}, **kw),
        _rel(30, [(NODE, 12, "m1"), (WAY, 20, "m2")]),
    ])


def test_derive_changes_golden(dc_old, dc_new):
    """Expected: test/derive-changes/output.osc — delete records keep only
    id/version/timestamp."""
    out = changes.derive_changes(dc_old, dc_new)
    rows = {(r.type, r.id): r for r in out.collect()}
    assert {(k, rows[k].change_op) for k in rows} == {
        ((NODE, 11), "modify"), ((NODE, 13), "delete"),
        ((NODE, 14), "create"), ((WAY, 21), "modify"),
    }
    d = rows[(NODE, 13)]
    assert (d.version, d.ts, d.visible) == (1, T1, False)
    assert d.lon is None and d.lat is None and dict(d.tags) == {}
    # changeset NULL (not 0): the reference's delete stubs omit the
    # changeset attribute entirely (test/derive-changes/output.osc)
    assert d.uid == 0 and d.user == "" and d.changeset is None


def test_derive_changes_golden_keep_details(dc_old, dc_new):
    """output-keep-details.osc: the delete keeps tags/coords/meta."""
    out = changes.derive_changes(dc_old, dc_new, keep_details=True)
    d = [r for r in out.collect() if r.change_op == "delete"][0]
    assert (d.id, d.version, d.lon, d.lat) == (13, 1, 10000000, 40000000)
    assert dict(d.tags) == {"foo": "bar"} and d.uid == 1 and d.user == "test"


def test_derive_changes_golden_incr_version(dc_old, dc_new):
    """output-incr-version.osc: the delete's version bumps to 2."""
    out = changes.derive_changes(dc_old, dc_new, increment_version=True)
    d = [r for r in out.collect() if r.change_op == "delete"][0]
    assert (d.id, d.version) == (13, 2)
