"""Distributed .osc / changeset-XML writers (round-4 rework: the old
driver-side toLocalIterator paths re-executed the upstream once per
partition under AQE; both sinks now render JVM-side and write parts in
one job — sinks/osmxml.py write_osm_change / write_changesets_xml).

Pins: (a) section-boundary handling across bucket/partition edges —
every prev-action decision that crosses a bucket boundary comes from the
broadcast boundary fill; (b) changeset_element_col byte-parity with the
Python serializer; (c) empty-frame output shape."""

import gzip

from pyspark.sql import functions as F

from osmium_tool_spark.sinks.osmxml import (
    change_action_col,
    changeset_element_col,
    serialize_changeset_row,
    make_row_serializer,
    write_changesets_xml,
    write_osm_change,
)
from osmium_tool_spark.sources.opl import read_opl
from osmium_tool_spark.sources.osmxml import CHANGESET_SCHEMA


def _entities(spark, n, action_of):
    """n nodes in id order whose action pattern is action_of(i)."""
    lines = []
    for i in range(1, n + 1):
        act = action_of(i)
        version = 1 if act == "create" else 2
        vis = "D" if act == "delete" else "V"
        lines.append(
            f"n{i} v{version} d{vis} c7 t2020-01-01T00:00:00Z i3 uu T x1 y1"
        )
    import tempfile, os

    d = tempfile.mkdtemp()
    p = os.path.join(d, "in.opl")
    open(p, "w").write("\n".join(lines) + "\n")
    return read_opl(spark, p)


def _expected_osc(rows_actions, elements):
    out = ["<?xml version='1.0' encoding='UTF-8'?>",
           '<osmChange version="0.6" generator="test">']
    cur = None
    for act, el in zip(rows_actions, elements):
        if act != cur:
            if cur is not None:
                out.append(f"  </{cur}>")
            out.append(f"  <{act}>")
            cur = act
        out.append(el)
    if cur is not None:
        out.append(f"  </{cur}>")
    out.append("</osmChange>")
    return "\n".join(out) + "\n"


class TestOscSections:
    def _check(self, spark, tmp_path, n, action_of):
        # the section buckets follow the session's 4 default partitions
        ents = _entities(spark, n, action_of)
        out = str(tmp_path / "o.osc")
        write_osm_change(ents, out, generator="test")
        # reference rendering via the (golden-pinned) Python serializer
        ser = make_row_serializer(indent=4)
        rows = [r.asDict(recursive=True)
                for r in ents.withColumn("tags", F.map_entries("tags")).collect()]
        for r in rows:
            r["tags"] = {e["key"]: e["value"] for e in (r.pop("tags") or [])}
        rows.sort(key=lambda r: r["id"])
        acts = [action_of(r["id"]) for r in rows]
        expected = _expected_osc(acts, [ser(r) for r in rows])
        assert open(out).read() == expected

    def test_boundary_inside_run(self, spark, tmp_path):
        # 40 rows, 4 buckets of 10: runs of 7 cross bucket edges mid-run
        self._check(spark, tmp_path, 40,
                    lambda i: ["create", "modify", "delete"][(i - 1) // 7 % 3])

    def test_boundary_at_action_change(self, spark, tmp_path):
        # action changes exactly at each bucket edge (i % 10)
        self._check(spark, tmp_path, 40,
                    lambda i: "create" if ((i - 1) // 10) % 2 == 0 else "delete")

    def test_single_action(self, spark, tmp_path):
        self._check(spark, tmp_path, 23, lambda i: "modify")

    def test_every_row_new_section(self, spark, tmp_path):
        self._check(spark, tmp_path, 12,
                    lambda i: ["create", "modify", "delete"][i % 3])

    def test_empty_frame(self, spark, tmp_path):
        ents = _entities(spark, 3, lambda i: "modify").filter("id > 99")
        out = str(tmp_path / "e.osc")
        write_osm_change(ents, out, generator="test")
        assert open(out).read() == (
            "<?xml version='1.0' encoding='UTF-8'?>\n"
            '<osmChange version="0.6" generator="test">\n</osmChange>\n'
        )

    def test_empty_frame_gz(self, spark, tmp_path):
        ents = _entities(spark, 3, lambda i: "modify").filter("id > 99")
        out = str(tmp_path / "e.osc.gz")
        write_osm_change(ents, out, generator="test", compression="gzip")
        assert gzip.open(out, "rt").read().endswith("</osmChange>\n")


CS_ROWS = [
    # (id, created, closed, open, uid, user, nch, ncom, bbox..., tags)
    (1, 1577836800000000, 1577840400000000, False, 3, "alice", 5, 2,
     10000000, 20000000, 30000000, 45000000, [("comment", "a b"), ("k", "v")]),
    (2, 1577836800000000, None, True, 0, "", 0, 0, None, None, None, None, []),
    (3, None, 1577840400000000, None, None, 'q"uote', None, None,
     -1234567, -7, 0, 99999999, [("a&b", "<x>\n")]),
    (4, 1577836800000000, 1577840400000000, False, 0, "bob", 1, 0,
     None, None, None, None, None),
]


class TestChangesetColumnSerializer:
    def test_byte_parity_with_python(self, spark, tmp_path):
        df = spark.createDataFrame(CS_ROWS, CHANGESET_SCHEMA)
        got = {r["id"]: r["v"] for r in
               df.select("id", changeset_element_col().alias("v")).collect()}
        for row in df.collect():
            r = row.asDict(recursive=True)
            r["tags"] = r["tags"]
            assert got[r["id"]] == serialize_changeset_row(r), f"id {r['id']}"

    def test_write_changesets_xml_file(self, spark, tmp_path):
        df = spark.createDataFrame(CS_ROWS, CHANGESET_SCHEMA)
        out = str(tmp_path / "cs.osm")
        write_changesets_xml(df, out, generator="test")
        text = open(out).read()
        assert text.startswith("<?xml version='1.0' encoding='UTF-8'?>\n"
                               '<osm version="0.6" generator="test">\n')
        assert text.endswith("</osm>\n")
        # id order, one element per changeset
        ids = [ln.split('id="')[1].split('"')[0]
               for ln in text.splitlines() if ln.startswith(" <changeset")]
        assert ids == ["1", "2", "3", "4"]


def test_change_action_col_matches_python(spark):
    ents = _entities(spark, 9, lambda i: ["create", "modify", "delete"][i % 3])
    rows = ents.select("id", "version", "visible",
                       change_action_col().alias("act")).collect()
    for r in rows:
        expected = ("delete" if r["visible"] is False
                    else "create" if r["version"] == 1 else "modify")
        assert r["act"] == expected
