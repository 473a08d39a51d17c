"""Tests for id ops, sort/merge, aggregates, and history/CDC operators."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.functions.geometry import Extract
from osmium_tool_spark.functions.idsets import broadcastable
from osmium_tool_spark.operators import aggregates, changes, idops, sort_merge
from osmium_tool_spark.operators.extract import extract
from osmium_tool_spark.operators.tags_filter import tags_filter
from osmium_tool_spark.schema import NODE, RELATION, WAY
from tests import fixtures
from tests.conftest import job_count


def rset(df):
    return {(r["type"], r["id"]) for r in df.select("type", "id").collect()}


@pytest.fixture(scope="module")
def inp(spark):
    df = fixtures.extract_input1(spark).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def site(spark):
    df = fixtures.tags_filter_site(spark).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def hist(spark):
    df = fixtures.history_input(spark).cache()
    df.count()
    return df


# w20's node 12 and r36's member r35 are missing from this input
DANGLING = f"NOT ((type = {NODE} AND id = 12) OR (type = {RELATION} AND id = 35))"


def id_path_is(inp, in_ram, whole_rows=False):
    """Whether `inp` takes the ID engine's in-RAM path. getid -r and
    renumber collect whole rows and size them (`whole_rows`); extract and
    tags-filter size the (type, id, refs, members) projection they
    collect."""
    return broadcastable(inp if whole_rows else inp.select("type", "id", "refs", "members")) is in_ram


class GetIdRecursive:
    """getid -r behaviour, run once per path."""

    in_ram = True  # the fixture is small enough to keep its id sets on the driver

    def test_path(self, inp):
        assert id_path_is(inp, self.in_ram, whole_rows=True)

    def test_recursive_way(self, inp):
        got = rset(idops.getid(inp, {WAY: [20]}, recursive=True))
        assert got == {(WAY, 20), (NODE, 11), (NODE, 12), (NODE, 13)}

    def test_recursive_nested_relations(self, inp):
        # r36 -> r35 -> r31 -> n10
        got = rset(idops.getid(inp, {RELATION: [36]}, recursive=True))
        assert got == {(RELATION, 36), (RELATION, 35), (RELATION, 31), (NODE, 10)}

    def test_recursive_dangling_refs(self, inp):
        got = rset(idops.getid(inp.filter(DANGLING), {WAY: [20], RELATION: [36]}, recursive=True))
        assert got == {(WAY, 20), (NODE, 11), (NODE, 13), (RELATION, 36)}

    def test_empty_input(self, inp):
        got = idops.getid(inp.filter("id < 0"), {WAY: [20], RELATION: [36]}, recursive=True)
        assert got.schema == inp.schema and got.collect() == []

    def test_recursive_nesting_over_round_cap_raises(self, inp, monkeypatch):
        # r36 -> r35 -> r31 needs a third round to find nothing new
        monkeypatch.setattr(idops, "CLOSURE_ROUNDS", 2)
        with pytest.raises(ValueError, match=r"relations nested over 2 deep, frontier sizes \[1, 1\]"):
            idops.getid(inp, {RELATION: [36]}, recursive=True).collect()


class TestGetId(GetIdRecursive):
    def test_plain(self, inp):
        got = rset(idops.getid(inp, {NODE: [11], WAY: [21]}))
        assert got == {(NODE, 11), (WAY, 21)}

    def test_removeid(self, inp):
        got = rset(idops.removeid(inp, {NODE: [10, 11, 12, 13, 14, 15, 16], RELATION: [31, 32, 33, 34, 35, 36]}))
        assert got == {(WAY, 20), (WAY, 21)}


class TestGetParents:
    def test_node_parents(self, inp):
        got = rset(idops.getparents(inp, {NODE: [13]}))
        # n13 in w20; r32 has member n13
        assert got == {(WAY, 20), (RELATION, 32)}

    def test_way_parents_add_self(self, inp):
        got = rset(idops.getparents(inp, {WAY: [21]}, add_self=True))
        assert got == {(WAY, 21), (RELATION, 34)}


class TestRenumber:
    in_ram = True

    def test_path(self, inp):
        assert id_path_is(inp, self.in_ram, whole_rows=True)

    def test_dense_and_refs_remapped(self, inp):
        out = idops.renumber(inp).collect()
        by = {(r["type"], r["id"]): r for r in out}
        # nodes 10..16 -> 1..7; ways 20,21 -> 1,2; rels 31..36 -> 1..6
        assert {k for k in by if k[0] == NODE} == {(NODE, i) for i in range(1, 8)}
        assert {k for k in by if k[0] == WAY} == {(WAY, 1), (WAY, 2)}
        assert by[(WAY, 1)]["refs"] == [2, 3, 4]  # was [11,12,13]
        # r34 members w20,w21 -> w1,w2; r36 member r35 -> r5
        assert [m["ref"] for m in by[(RELATION, 4)]["members"]] == [1, 2]
        assert [m["ref"] for m in by[(RELATION, 6)]["members"]] == [5]

    def test_start_ids(self, inp):
        out = idops.renumber(inp, start_ids={NODE: 100}).collect()
        node_ids = sorted(r["id"] for r in out if r["type"] == NODE)
        assert node_ids == list(range(100, 107))

    def test_negative_start_counts_down_from_start(self, inp):
        # reference command_renumber.cpp:61-66: first assigned id EQUALS the
        # (negative) start id, then counts down
        out = idops.renumber(inp, start_ids={NODE: -1}).collect()
        node_ids = sorted((r["id"] for r in out if r["type"] == NODE), reverse=True)
        assert node_ids == [-1, -2, -3, -4, -5, -6, -7]

    def test_dangling_refs_get_fresh_ids(self, inp):
        by = {(r["type"], r["id"]): r for r in idops.renumber(inp.filter(DANGLING)).collect()}
        # nodes 10, 11, 13..16 -> 1..6 and the missing n12 -> 7;
        # relations 31..34, 36 -> 1..5 and the missing r35 -> 6
        assert by[(WAY, 1)]["refs"] == [2, 7, 3]
        assert [m["ref"] for m in by[(RELATION, 5)]["members"]] == [6]

    def test_empty_input(self, inp):
        got = idops.renumber(inp.filter("id < 0"), start_ids={NODE: -1})
        assert got.collect() == [] and got.dtypes == inp.dtypes
        if self.in_ram:  # the join path's regroup makes every column nullable
            assert got.schema == inp.schema

    def test_empty_refs_and_members_stay_empty(self, spark):
        from tests.fixtures import _df, _rel, _way

        out = idops.renumber(_df(spark, [_way(5, []), _rel(7, [])])).collect()
        assert [(r["refs"], r["members"]) for r in out] == [([], None), (None, [])]


@pytest.mark.usefixtures("distributed_ids")
class TestGetIdDistributed(GetIdRecursive):
    in_ram = False


@pytest.mark.usefixtures("distributed_ids")
class TestRenumberDistributed(TestRenumber):
    in_ram = False



def test_in_ram_job_counts(spark, inp):
    """getid -r on r36 (r36 -> r35 -> r31) and renumber each collect the
    whole input once, do the rest on the driver and return a sorted Arrow
    local relation: collecting that launches no job. An eager probe, a
    second read or a Spark-side sort would add one."""
    assert id_path_is(inp, True, whole_rows=True)
    for run in (lambda: idops.getid(inp, {RELATION: [36]}, recursive=True), lambda: idops.renumber(inp)):
        out = []
        assert job_count(spark, lambda: out.append(run())) == 1
        assert job_count(spark, out[0].collect) == 0


def test_distributed_job_counts(spark, inp, distributed_ids):
    """The distributed path's counts, pinned. getid -r on r36 collects the
    relation-in-relation edges and the seed rows they touch, then sorts
    (range sample and result); renumber launches 8 jobs."""
    assert id_path_is(inp, False, whole_rows=True)
    assert job_count(spark, lambda: idops.getid(inp, {RELATION: [36]}, recursive=True).collect()) == 2 + 2
    assert job_count(spark, lambda: idops.renumber(inp).collect()) == 8


def test_renumber_paths_agree(spark):
    """Both paths give the same ids for an input with several versions of
    a way and a relation, listed out of order, and several absent refs
    of every type: absent refs are numbered in first-seen order, ways
    before relations, each in canonical (id, version) order."""
    from tests.fixtures import _df, _node, _rel, _way

    rows = [
        _node(1, 0, 0),
        _node(2, 0, 0),
        _node(-3, 0, 0),
        _way(10, [101, 102, 1], version=2),
        _way(10, [1, 100, 2, 101], version=1),
        _way(-5, [103, -3]),
        _way(11, [100, 104]),
        _rel(20, [(WAY, 51, ""), (WAY, 50, ""), (RELATION, 61, "")], version=2),
        _rel(20, [(NODE, 105, ""), (WAY, 50, ""), (RELATION, 60, ""), (WAY, 10, "")], version=1),
        _rel(21, [(RELATION, 60, ""), (NODE, 1, ""), (WAY, 52, ""), (RELATION, 20, "")]),
    ]

    def run(start_ids):
        out = idops.renumber(_df(spark, rows), start_ids=start_ids).collect()
        return sorted(
            (r["type"], r["id"], r["version"], tuple(r["refs"] or ()), tuple(m["ref"] for m in r["members"] or ()))
            for r in out
        )

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    for start_ids in ({}, {NODE: -1, WAY: 5}):
        in_ram = run(start_ids)
        spark.conf.set(key, "-1")
        try:
            assert run(start_ids) == in_ram
        finally:
            spark.conf.set(key, saved)
    # nodes -3, 1, 2 -> 1, 2, 3, then the absent ones: 103 (w-5), 100 and
    # 101 (w10 v1), 102 (w10 v2), 104 (w11), 105 (r20 v1) -> 4..9
    assert {(r[1], r[2]): r[3] for r in run({}) if r[0] == WAY} == {
        (1, 1): (4, 1),
        (2, 1): (2, 5, 3, 6),
        (2, 2): (6, 7, 2),
        (3, 1): (5, 8),
    }


def local_relation(df):
    return df._jdf.queryExecution().executedPlan().toString().startswith("LocalTableScan")


def test_whole_rows_decide_the_path(spark, tmp_path):
    """getid -r and renumber size the whole rows they collect, not their
    (type, id, refs, members) projection: with the threshold between the
    two estimates of an input with padded tags, both take the join path
    and give the rows of the in-RAM path, in the same order."""
    path = str(tmp_path / "padded")
    pad = F.create_map(F.lit("pad"), F.lit("x" * 4000))
    fixtures.extract_input1(spark).withColumn("tags", F.map_concat("tags", pad)).write.parquet(path)
    padded = spark.read.parquet(path)
    runs = [
        lambda: idops.getid(padded, {WAY: [20], RELATION: [36]}, recursive=True),
        lambda: idops.renumber(padded, start_ids={NODE: -1}),
    ]
    assert id_path_is(padded, True, whole_rows=True)
    in_ram = [run() for run in runs]
    assert all(map(local_relation, in_ram))

    def size(df):
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, str((size(padded.select("type", "id", "refs", "members")) + size(padded)) // 2))
    try:
        assert id_path_is(padded, True) and id_path_is(padded, False, whole_rows=True)
        for run, want in zip(runs, in_ram):
            got = run()
            assert not local_relation(got)
            assert got.collect() == want.collect()
    finally:
        spark.conf.set(key, saved)


STRATEGIES = ("simple", "complete_ways", "smart")
BBOX = [Extract.bbox(0, 0, 0, 1.5, 10)]


def test_mark_sets_in_ram_job_counts(spark, inp, site):
    """extract collects the node assignment, then the ways' refs and the
    relations' members; tags-filter collects the ways and relations its
    passes need. Each emit then takes three jobs: the broadcast of one
    join side, the sort's range sample and the result. An eager probe or
    a persisted frame would add a job."""
    assert id_path_is(inp, True) and id_path_is(site, True)
    for strategy in STRATEGIES:
        assert job_count(spark, lambda: extract(inp, BBOX, strategy=strategy).collect()) == 2 + 3, strategy
    assert job_count(spark, lambda: tags_filter(site, ["r/site"]).collect()) == 1 + 3


def test_mark_sets_distributed_job_counts(spark, inp, site, distributed_ids):
    """The distributed path's counts, pinned. The relation closures of
    extract (complete_ways and smart) and of tags-filter on the nested
    site relations each collect the relation-in-relation edges and the
    seed rows they touch, then sort (range sample and result)."""
    assert id_path_is(inp, False) and id_path_is(site, False)
    counts = {s: job_count(spark, lambda: extract(inp, BBOX, strategy=s).collect()) for s in STRATEGIES}
    assert counts == {"simple": 2, "complete_ways": 2 + 2, "smart": 2 + 2}
    assert job_count(spark, lambda: tags_filter(site, ["r/site"]).collect()) == 2 + 2


def persisted(spark):
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def test_in_ram_path_persists_nothing(spark, inp, site):
    """No RDD persisted by three calls each stays registered. RDD ids only
    grow, so the check looks at ids above the last one persisted before
    the calls: GC may drop older entries of earlier tests meanwhile, which
    makes a plain count flaky."""
    last = max(persisted(spark), default=-1)
    for _ in range(3):
        idops.renumber(inp).collect()
        idops.getid(inp, {RELATION: [36]}, recursive=True).collect()
        for strategy in STRATEGIES:
            extract(inp, BBOX, strategy=strategy).collect()
        tags_filter(site, ["r/site"], remove_tags=True).collect()
    assert id_path_is(inp, True, whole_rows=True) and id_path_is(site, True)
    assert {i for i in persisted(spark) if i > last} == set()


def test_distributed_tags_filter_persists_nothing(spark, distributed_ids):
    """tags-filter's join path leaves no RDD persisted either, when no
    relation nests in another."""
    from tests.fixtures import _df, _node, _rel, _way

    flat = _df(spark, [_node(1, 0, 0), _way(2, [1]), _rel(3, [(WAY, 2, "")], {"k": "a"}), _rel(4, [(NODE, 1, "")])])
    last = max(persisted(spark), default=-1)
    for _ in range(3):
        assert rset(tags_filter(flat, ["r/k=a"])) == {(NODE, 1), (WAY, 2), (RELATION, 3)}
    assert id_path_is(flat, False)
    assert {i for i in persisted(spark) if i > last} == set()


def test_distributed_closures_persist_nothing(spark, inp, site, distributed_ids):
    """Nor do the join paths of getid -r and tags-filter when relations
    nest (r36 -> r35 -> r31, and the site relations): the closure runs on
    the driver, with no checkpoint to leave behind."""
    last = max(persisted(spark), default=-1)
    for _ in range(3):
        idops.getid(inp, {RELATION: [36]}, recursive=True).collect()
        tags_filter(site, ["r/site"]).collect()
    assert id_path_is(inp, False, whole_rows=True) and id_path_is(site, False)
    assert {i for i in persisted(spark) if i > last} == set()


class TestCheckRefs:
    def test_missing_nodes(self, spark, inp):
        broken = inp.filter(~((F.col("type") == NODE) & (F.col("id") == 12)))
        miss = idops.check_refs(broken).collect()
        assert {(r["ref_type"], r["ref_id"], r["src_type"], r["src_id"]) for r in miss} == {
            (NODE, 12, WAY, 20)
        }

    def test_relations_mode(self, spark, inp):
        broken = inp.filter(~((F.col("type") == RELATION) & (F.col("id") == 35)))
        miss = idops.check_refs(broken, check_relations=True).collect()
        assert {(r["ref_type"], r["ref_id"]) for r in miss} == {(RELATION, 35)}


class TestSortMerge:
    def test_negative_ids_first_by_abs(self, spark):
        df = fixtures.sort_input_neg(spark)
        rows = sort_merge.sort_entities(df).collect()
        assert [(r["type"], r["id"]) for r in rows] == [
            (NODE, -2), (NODE, -7), (NODE, 1), (NODE, 3), (WAY, -4), (WAY, 5),
        ]

    def test_merge_dedup(self, spark, inp):
        a = inp.filter(F.col("id") <= 13)
        b = inp.filter(F.col("id") >= 12)
        merged = sort_merge.merge([a, b])
        assert rset(merged) == rset(inp)
        assert merged.count() == inp.count()

    def test_merge_changes_simplify_last_wins(self, spark, hist):
        v1 = hist.filter("version = 1")
        v2 = hist.filter("version = 2")
        out = sort_merge.merge_changes([v2, v1], simplify=True)
        rows = {(r["type"], r["id"]): r["version"] for r in out.collect()}
        assert rows == {(NODE, 1): 2, (NODE, 2): 2, (WAY, 10): 2}

    def test_cat_type_filter_and_clean(self, spark, inp):
        out = sort_merge.cat([inp], object_types=[NODE], clean_attrs=["version", "user"])
        rows = out.collect()
        assert all(r["type"] == NODE for r in rows)
        assert all(r["version"] == 0 and r["user"] == "" for r in rows)

    def test_validate_order(self, spark):
        df = fixtures.sort_input_neg(spark)
        seq = df.withColumn("seq", F.monotonically_increasing_id())
        bad = sort_merge.validate_order(seq)
        assert bad.count() > 0  # fixture is unsorted
        # a properly sorted frame yields no violations
        from pyspark.sql import Window

        from osmium_tool_spark.functions.sortkeys import id_sort_key

        ok_seq = df.withColumn(
            "seq",
            F.row_number().over(Window.orderBy("type", id_sort_key(F.col("id")), "version")),
        )
        assert sort_merge.validate_order(ok_seq).count() == 0


class TestAggregates:
    def test_fileinfo(self, inp):
        rows = {r["type"]: r for r in aggregates.fileinfo(inp).collect()}
        assert rows[NODE]["count"] == 7
        assert rows[NODE]["min_id"] == 10 and rows[NODE]["max_id"] == 16
        assert rows[WAY]["count"] == 2
        assert rows[RELATION]["count"] == 6
        assert rows[NODE]["min_lon"] == 10000000 and rows[NODE]["max_lon"] == 20000000

    def test_fileinfo_crc_is_zlib_crc32_sum(self, inp):
        import zlib

        from osmium_tool_spark.operators.aggregates import (
            HASH_MODULUS,
            canonical_row_string,
            fileinfo_crc,
        )

        strings = [r["s"] for r in inp.select(canonical_row_string().alias("s")).collect()]
        want = sum(zlib.crc32(s.encode()) for s in strings) % HASH_MODULUS
        got = fileinfo_crc(inp).collect()[0]
        assert got["content_hash"] == want
        assert got["rows"] == len(strings)

    def test_fileinfo_crc_multiplicity_sensitive(self, inp):
        # a plain XOR combiner is blind to even multiplicities; the modular
        # sum must change when rows are duplicated
        h1 = aggregates.fileinfo_crc(inp).collect()[0]["content_hash"]
        h2 = aggregates.fileinfo_crc(inp.unionByName(inp)).collect()[0]["content_hash"]
        assert h1 != h2

    def test_tags_count(self, spark):
        df = fixtures.tags_filter_input(spark)
        rows = aggregates.tags_count(df).collect()
        got = [(r["key"], r["count"], r["rank"]) for r in rows]
        assert got == [
            ("highway", 3, 1), ("note", 2, 2), ("amenity", 1, 3), ("barrier", 1, 4),
        ]
        vals = aggregates.tags_count(df, expressions=["highway"], count_values=True).collect()
        assert [(r["key"], r["value"], r["count"]) for r in vals] == [
            ("highway", "primary", 1), ("highway", "residential", 1), ("highway", "traffic_signals", 1),
        ]


class TestChanges:
    def test_time_filter_point(self, hist):
        out = changes.time_filter(hist, 1120)
        rows = {(r["type"], r["id"]): r["version"] for r in out.collect()}
        # at t=1120: n1 v2 (ts 1100), n2 v1 (ts 1050), w10 v1 (ts 1060)
        assert rows == {(NODE, 1): 2, (NODE, 2): 1, (WAY, 10): 1}

    def test_time_filter_point_deleted(self, hist):
        out = changes.time_filter(hist, 1250)
        rows = {(r["type"], r["id"]): r["version"] for r in out.collect()}
        # n1 v3 is a delete -> gone
        assert rows == {(NODE, 2): 2, (WAY, 10): 2}

    def test_time_filter_range(self, hist):
        out = changes.time_filter(hist, 1120, 1180)
        rows = {(r["type"], r["id"], r["version"]) for r in out.collect()}
        assert rows == {
            (NODE, 1, 2), (NODE, 2, 1), (NODE, 2, 2), (WAY, 10, 1), (WAY, 10, 2),
        }

    def test_apply_changes_latest_wins_and_deletes(self, spark, hist):
        base = hist.filter("version = 1")
        ch1 = hist.filter("version = 2")
        ch2 = hist.filter("version = 3")  # n1 v3 delete
        out = changes.apply_changes(base, [ch1, ch2])
        rows = {(r["type"], r["id"]): r["version"] for r in out.collect()}
        assert rows == {(NODE, 2): 2, (WAY, 10): 2}  # n1 deleted

    def test_apply_changes_history_mode(self, spark, hist):
        base = hist.filter("version = 1")
        ch = hist.filter("version >= 2")
        out = changes.apply_changes(base, [ch], with_history=True)
        assert out.count() == hist.count()

    def test_apply_changes_file_order_tiebreak(self, spark, hist):
        v1 = hist.filter("type = 0 and id = 1 and version = 1")
        modified = v1.withColumn("tags", F.create_map(F.lit("v"), F.lit("ZZZ")))
        out = changes.apply_changes(v1, [modified])
        assert out.collect()[0]["tags"] == {"v": "ZZZ"}  # later source wins tie

    def test_diff(self, spark, hist):
        left = hist.filter("version <= 2")
        right = hist.filter("version >= 2")
        tweaked = right.withColumn(
            "tags",
            F.when(
                (F.col("type") == WAY) & (F.col("id") == 10), F.create_map(F.lit("w"), F.lit("X"))
            ).otherwise(F.col("tags")),
        )
        out = {(r["type"], r["id"], r["version"]): r["status"] for r in changes.diff(left, tweaked).collect()}
        assert out[(NODE, 1, 1)] == "left"
        assert out[(NODE, 1, 3)] == "right"
        assert out[(NODE, 1, 2)] == "same"
        assert out[(WAY, 10, 2)] == "different"

    def test_derive_changes(self, spark, hist):
        old = changes.time_filter(hist, 1120)
        new = changes.time_filter(hist, 1250)
        out = changes.derive_changes(old, new)
        ops = {(r["type"], r["id"]): r["change_op"] for r in out.collect()}
        assert ops == {(NODE, 1): "delete", (NODE, 2): "modify", (WAY, 10): "modify"}
        deleted = [r for r in out.collect() if r["change_op"] == "delete"][0]
        assert deleted["visible"] is False and deleted["tags"] == {}


def test_renumber_index_dir_persistence(spark, tmp_path):
    """--index-dir analog: later batches reuse persisted assignments and
    append after each type's max (command_renumber.cpp:367-441)."""
    from osmium_tool_spark.operators.idops import renumber
    from tests.fixtures import _df, _node

    idx = str(tmp_path / "renumber_idx")
    b1 = _df(spark, [_node(5, 0, 0), _node(10, 0, 1)])
    out1 = {r.id for r in renumber(b1, index_dir=idx).collect()}
    assert out1 == {1, 2}

    # node 10 keeps its persisted id 2; new nodes 3 and 20 get 3 and 4
    b2 = _df(spark, [_node(10, 0, 1), _node(20, 0, 2), _node(3, 0, 3)])
    all_ids = {r.id for r in renumber(b2, index_dir=idx).collect()}
    assert all_ids == {2, 3, 4}
    got = {r.id for r in renumber(_df(spark, [_node(10, 0, 1)]), index_dir=idx).collect()}
    assert got == {2}


@pytest.mark.parametrize("path", ["in_ram", "distributed"])
def test_renumber_index_dir_negative_start(spark, tmp_path, request, path):
    """A type that counts down moves a later batch's new ids past the
    persisted minimum, not the maximum."""
    from osmium_tool_spark.operators.idops import renumber
    from osmium_tool_spark.schema import fp
    from tests.fixtures import _df, _node

    if path == "distributed":
        request.getfixturevalue("distributed_ids")
    idx = str(tmp_path / "renumber_idx")
    start = {NODE: -1}

    def batch(*nodes):
        out = renumber(_df(spark, [_node(i, 0, i) for i in nodes]), start_ids=start, index_dir=idx)
        return {r.lat // fp(1): r.id for r in out.collect()}

    assert batch(5, 10) == {5: -1, 10: -2}
    assert batch(10, 20) == {10: -2, 20: -3}


def test_apply_changes_locations_on_ways(spark):
    """--locations-on-ways: way locations refreshed from the post-merge
    node set (command_apply_changes.cpp:185-196)."""
    from osmium_tool_spark.operators import changes
    from tests.fixtures import _df, _node, _way

    base = _df(spark, [_node(1, 1.0, 1.0), _node(2, 2.0, 2.0), _way(9, [1, 2], {"h": "x"})])
    # change moves node 1
    ch = _df(spark, [_node(1, 5.0, 5.0, version=2)])
    out = changes.apply_changes(base, [ch], locations_on_ways=True)
    w = out.filter(out.type == 1).collect()[0]
    assert [(loc.lon, loc.lat) for loc in w.locations] == [(50000000, 50000000), (20000000, 20000000)]


def test_fileinfo_crc_libosmium_fold(spark, monkeypatch):
    """The stream CRC folded from per-partition CRCs with crc32_combine
    equals the CRC of the same stream held in one partition, whatever the
    input layout, and so do the byte and row counts."""
    from pyspark import SparkContext

    from tests.fixtures import _df, _node, _rel, _way

    rows = [
        _node(-i if i % 7 == 0 else i, i / 100, -i / 50, {"k": f"v{i}"} if i % 3 else {},
              version=i % 3 + 1, user=f"u{i % 5}", visible=i % 11 != 0)
        for i in range(1, 300)
    ]
    rows += [_way(i, [i, i + 1, -7], {"highway": "road"}) for i in range(1, 80)]
    rows += [_rel(i, [(0, i, "stop"), (1, i + 1, ""), (2, i - 1, "sub")], {"type": "route"})
             for i in range(1, 30)]
    ents = _df(spark, rows)

    def crc(df):
        r = aggregates.fileinfo_crc_libosmium(df).first()
        return r["stream_crc32"], r["bytes"], r["rows"]

    # defaultParallelism range partitions of ~400 rows: every fold combines
    folded = [crc(df) for df in (ents.coalesce(1), ents.repartition(7), ents.orderBy(F.rand(7)))]
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda self: 1))
    whole = crc(ents)
    assert whole[2] == len(rows)
    assert folded == [whole] * 3
