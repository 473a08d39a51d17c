"""Golden parity against the reference's own XML fixture suites
(/root/reference/test/{sort,merge,getparents,time-filter,check-refs}),
loaded through sources/osmxml.read_osm_xml — the suites round 1 had not
yet transliterated. Expected outputs are the reference's committed
golden files; comparison is on full canonical row tuples (ordered where
the reference asserts order)."""

import calendar
import time as _time

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators import idops, sort_merge
from osmium_tool_spark.operators.changes import time_filter
from osmium_tool_spark.schema import NODE, WAY
from osmium_tool_spark.sources.osmxml import read_osm_xml

REF = "/root/reference/test"


def ts(s: str) -> int:
    return calendar.timegm(_time.strptime(s, "%Y-%m-%dT%H:%M:%SZ")) * 1_000_000


def canon_rows(df, keep_order=False):
    rows = [
        (
            r.type, r.id, r.version, r.visible, r.ts, r.changeset, r.uid, r.user,
            tuple(sorted((r.tags or {}).items())),
            r.lon, r.lat,
            tuple(r.refs or ()),
            tuple((m.mtype, m.ref, m.role) for m in (r.members or ())),
        )
        for r in df.collect()
    ]
    return rows if keep_order else sorted(rows)


class TestSortGoldens:
    """test/sort/CMakeLists.txt: both sort strategies must produce the
    committed output; our single external sort covers both."""

    CASES = [
        (["input-simple1.osm", "input-simple2.osm"], "output-simple.osm"),
        (["input-bounds1.osm", "input-bounds2.osm"], "output-bounds.osm"),
        (["input-history1.osm", "input-history2.osm"], "output-history.osm"),
        (["input-neg.osm"], "output-neg.osm"),
        (["input-change.osc"], "output-change.osc"),
        (
            ["input-simple1-only-version.osm", "input-simple2.osm"],
            "output-simple-1-only-version.osm",
        ),
        (["input-simple-onefile.osm"], "output-simple-onefile.osm"),
        (
            ["input-history-partially-only-version.osm"],
            "output-history-partially-only-version.osm",
        ),
        (["input-history-only-version.osm"], "output-history-only-version.osm"),
    ]

    @pytest.mark.parametrize("inputs,expected", CASES, ids=[e for _, e in CASES])
    def test_sort_golden(self, spark, inputs, expected):
        dfs = [read_osm_xml(spark, f"{REF}/sort/{p}") for p in inputs]
        src = dfs[0]
        for d in dfs[1:]:
            src = src.unionByName(d)
        got = canon_rows(sort_merge.sort_entities(src), keep_order=True)
        want = canon_rows(read_osm_xml(spark, f"{REF}/sort/{expected}"), keep_order=True)
        assert got == want


class TestMergeGoldens:
    CASES = [
        (["input1.osm"], "output1.osm"),
        (["input1.osm", "input2.osm"], "output2.osm"),
        (["input2.osm", "input1.osm"], "output2.osm"),
        (["input1.osm", "input2.osm", "input3.osm"], "output3.osm"),
        (
            ["input1-only-version.osm", "input2-only-version.osm"],
            "output2-12-only-version.osm",
        ),
        (["same-ids.osm", "empty.osm"], "output-same-ids.osm"),
    ]

    @pytest.mark.parametrize(
        "inputs,expected", CASES, ids=["+".join(i) for i, _ in CASES]
    )
    def test_merge_golden(self, spark, inputs, expected):
        dfs = [read_osm_xml(spark, f"{REF}/merge/{p}") for p in inputs]
        got = canon_rows(sort_merge.merge(dfs), keep_order=True)
        want = canon_rows(read_osm_xml(spark, f"{REF}/merge/{expected}"), keep_order=True)
        assert got == want

    # test/merge/CMakeLists.txt do_test error matrix: each unsorted input
    # must be flagged with the matching violation class
    VIOLATIONS = [
        ("unsorted-types-wn.osm", "out-of-order"),       # ways before nodes
        ("unsorted-types-nrw.osm", "out-of-order"),      # relations before ways
        ("unsorted-ids-n.osm", "out-of-order"),          # smaller ids first
        ("unsorted-ids-w.osm", "out-of-order"),
        ("unsorted-versions-21.osm", "out-of-order-version"),
        ("unsorted-versions-132.osm", "out-of-order-version"),
        ("unsorted-versions-133.osm", "duplicate-version"),
    ]

    @pytest.mark.parametrize("fname,reason", VIOLATIONS, ids=[f for f, _ in VIOLATIONS])
    def test_merge_order_violations(self, spark, fname, reason):
        from pyspark.sql import Window

        df = read_osm_xml(spark, f"{REF}/merge/{fname}")
        # seq = document order (monotonic id over the tiny driver-built frame)
        seq = df.withColumn("seq", F.monotonically_increasing_id())
        v = sort_merge.validate_order(seq).collect()
        assert v, f"{fname}: expected an order violation"
        assert reason in {r.reason for r in v}

    def test_sorted_inputs_have_no_violations(self, spark):
        df = read_osm_xml(spark, f"{REF}/merge/output3.osm")
        seq = df.withColumn("seq", F.monotonically_increasing_id())
        assert sort_merge.validate_order(seq).count() == 0


class TestGetParentsGoldens:
    CASES = [
        ({NODE: [10]}, False, "out-n10.osm"),
        ({NODE: [12]}, False, "out-n12.osm"),
        ({WAY: [20]}, False, "out-w20.osm"),
        ({NODE: [10]}, True, "out-n10-s.osm"),
        ({NODE: [12]}, True, "out-n12-s.osm"),
        ({WAY: [20]}, True, "out-w20-s.osm"),
    ]

    @pytest.mark.parametrize("ids,add_self,expected", CASES, ids=[e for *_, e in CASES])
    def test_getparents_golden(self, spark, ids, add_self, expected):
        inp = read_osm_xml(spark, f"{REF}/getparents/input.osm")
        got = canon_rows(idops.getparents(inp, ids, add_self=add_self))
        want = canon_rows(read_osm_xml(spark, f"{REF}/getparents/{expected}"))
        assert got == want


class TestTimeFilterGoldens:
    """test/time-filter/CMakeLists.txt matrix over input.osh: snapshot at
    T (including between-version times) and [from,to) ranges."""

    SNAPSHOTS = [
        (None, "output-last.osm"),
        ("2015-01-01T01:00:00Z", "output-ts1.osm"),
        ("2015-01-01T01:01:00Z", "output-ts1.osm"),
        ("2015-01-01T02:00:00Z", "output-ts2.osm"),
        ("2015-01-01T02:01:00Z", "output-ts2.osm"),
        ("2015-01-01T03:00:00Z", "output-ts3.osm"),
        ("2015-01-01T03:01:00Z", "output-ts3.osm"),
    ]

    @pytest.mark.parametrize(
        "at,expected", SNAPSHOTS, ids=[f"{e}@{a}" for a, e in SNAPSHOTS]
    )
    def test_snapshot_golden(self, spark, at, expected):
        hist = read_osm_xml(spark, f"{REF}/time-filter/input.osh")
        t = ts(at) if at else ts("2100-01-01T00:00:00Z")
        got = canon_rows(time_filter(hist, t))
        want = canon_rows(read_osm_xml(spark, f"{REF}/time-filter/{expected}"))
        assert got == want

    RANGES = [
        ("2015-01-01T00:00:00Z", "2015-01-01T05:00:00Z", "output-range-0-5.osh"),
        ("2015-01-01T01:00:00Z", "2015-01-01T02:00:00Z", "output-range-1-2.osh"),
        ("2015-01-01T01:01:00Z", "2015-01-01T02:01:00Z", "output-range-1a-2a.osh"),
        ("2015-01-01T02:00:00Z", "2015-01-01T03:00:00Z", "output-range-2-3.osh"),
        ("2015-01-01T02:00:00Z", "2015-01-01T03:01:00Z", "output-range-2-3a.osh"),
        ("2015-01-01T02:00:00Z", "2015-01-01T04:00:00Z", "output-range-2-4.osh"),
    ]

    @pytest.mark.parametrize("t1,t2,expected", RANGES, ids=[e for *_, e in RANGES])
    def test_range_golden(self, spark, t1, t2, expected):
        hist = read_osm_xml(spark, f"{REF}/time-filter/input.osh")
        got = canon_rows(time_filter(hist, ts(t1), ts(t2)))
        want = canon_rows(read_osm_xml(spark, f"{REF}/time-filter/{expected}"))
        assert got == want


class TestCheckRefsGoldens:
    """test/check-refs/CMakeLists.txt: exit-failure fixtures must yield
    missing refs, okay fixtures none (both with and without -r)."""

    def _missing(self, spark, fname, rels):
        df = read_osm_xml(spark, f"{REF}/check-refs/{fname}")
        return idops.check_refs(df, check_relations=rels).count()

    def test_okay(self, spark):
        assert self._missing(spark, "okay.osm", False) == 0
        assert self._missing(spark, "okay.osm", True) == 0
        assert self._missing(spark, "okay-r-in-r.osm", True) == 0

    def test_way_okay_without_r_fails_with_r(self, spark):
        assert self._missing(spark, "way-okay.osm", False) == 0
        assert self._missing(spark, "way-okay.osm", True) > 0

    @pytest.mark.parametrize(
        "fname,rels",
        [
            ("fail-n-in-w.osm", False),
            ("fail-n-in-r.osm", True),
            ("fail-w-in-r.osm", True),
            ("fail-r-in-r-1.osm", True),
            ("fail-r-in-r-2.osm", True),
        ],
    )
    def test_fail_fixtures(self, spark, fname, rels):
        assert self._missing(spark, fname, rels) > 0


class TestCatGoldens:
    """test/cat: concatenation order and the OPL serializer's byte shape
    (check_convert: cat input1.osm -f opl == output1.osm.opl)."""

    def test_cat_order(self, spark):
        in1 = read_osm_xml(spark, f"{REF}/cat/input1.osm")
        in2 = read_osm_xml(spark, f"{REF}/cat/input2.osm")
        got12 = canon_rows(sort_merge.cat([in1, in2]), keep_order=True)
        want12 = canon_rows(read_osm_xml(spark, f"{REF}/cat/output-cat12.osm"), keep_order=True)
        assert got12 == want12
        got21 = canon_rows(sort_merge.cat([in2, in1]), keep_order=True)
        want21 = canon_rows(read_osm_xml(spark, f"{REF}/cat/output-cat21.osm"), keep_order=True)
        assert got21 == want21

    def test_opl_serializer_byte_parity(self, spark):
        from osmium_tool_spark.sources.opl import _make_serializer

        ser = _make_serializer()
        ents = read_osm_xml(spark, f"{REF}/cat/input1.osm")
        got = [ser(r.asDict(recursive=True)) for r in ents.collect()]
        want = [ln.rstrip("\n") for ln in open(f"{REF}/cat/output1.osm.opl") if ln.strip()]
        assert got == want

    def test_opl_reader_roundtrips_reference_opl(self, spark, tmp_path):
        from osmium_tool_spark.sources.opl import read_opl

        src = tmp_path / "ref.opl"
        src.write_text(open(f"{REF}/cat/output1.osm.opl").read())
        back = read_osm_xml(spark, f"{REF}/cat/input1.osm")
        got = canon_rows(read_opl(spark, str(src)))
        want = canon_rows(back)
        assert got == want


class TestFileinfoGoldens:
    """fileinfo -j data-section parity vs test/fileinfo/fi1-result.json
    (only the buffers memory internals — an implementation detail of the
    reference's stream reader — are absent; crc32 is byte-parity via
    fileinfo_crc_libosmium)."""

    def test_fi1_report(self, spark):
        import json as _json

        from osmium_tool_spark.operators.aggregates import fileinfo_report

        ents = read_osm_xml(spark, f"{REF}/fileinfo/fi1.osm").withColumn(
            "__seq", F.monotonically_increasing_id()
        )
        got = fileinfo_report(ents, seq_col="__seq", with_crc=True)
        want = _json.load(open(f"{REF}/fileinfo/fi1-result.json"))["data"]
        for key in ("bbox", "timestamp", "objects_ordered", "multiple_versions",
                    "count", "minid", "maxid", "metadata", "crc32"):
            assert got[key] == want[key], key

    def test_fi1_text_report(self, spark):
        """fileinfo text output vs fi1-result.txt: every engine-scope line
        (Data/Metadata; not the File/Header/buffer reader internals) is
        byte-identical and in the same order."""
        from osmium_tool_spark.operators.aggregates import (
            fileinfo_report,
            fileinfo_text,
        )

        ents = read_osm_xml(spark, f"{REF}/fileinfo/fi1.osm").withColumn(
            "__seq", F.monotonically_increasing_id()
        )
        got = fileinfo_text(
            fileinfo_report(ents, seq_col="__seq", with_crc=True)
        ).splitlines()
        golden = open(f"{REF}/fileinfo/fi1-result.txt").read().splitlines()
        want = [
            line for line in golden
            if not line.startswith(("File:", "  Name:", "  Format:",
                                    "  Compression:", "  Size:", "Header:",
                                    "  Bounding boxes:", "  With history:",
                                    "  Options:", "    generator=",
                                    "    version=", "    xml_josm_upload="))
            and "buffer" not in line.lower()
        ]
        assert got == want

    def test_fi1_full_report(self, spark):
        """COMPLETE fileinfo -j report (file + header + data) equals
        fi1-result.json, excluding only the reader-internal buffers
        block."""
        import json as _json

        from osmium_tool_spark.operators.aggregates import fileinfo_report
        from osmium_tool_spark.sources.osmxml import read_osm_xml_header

        src = f"{REF}/fileinfo/fi1.osm"
        ents = read_osm_xml(spark, src).withColumn(
            "__seq", F.monotonically_increasing_id()
        )
        got = {
            **read_osm_xml_header(src),
            "data": fileinfo_report(ents, seq_col="__seq", with_crc=True),
        }
        got["file"]["name"] = "fileinfo/fi1.osm"  # golden path is relative
        want = _json.load(open(f"{REF}/fileinfo/fi1-result.json"))
        want["data"].pop("buffers")
        assert got == want

    def test_fileinfo_get_variables(self, spark):
        from osmium_tool_spark.operators.aggregates import flatten_report

        flat = flatten_report({"data": {
            "count": {"nodes": 3}, "multiple_versions": False,
            "bbox": [1.0, 1.0, 1.0, 3.0],
        }})
        assert flat["data.count.nodes"] == 3
        assert flat["data.multiple_versions"] == "no"
        assert flat["data.bbox"] == "1.0 1.0 1.0 3.0"

    def test_stream_crc_partition_invariant(self, spark):
        """The GF(2)-combined stream CRC must not depend on partitioning."""
        from osmium_tool_spark.operators.aggregates import fileinfo_crc_libosmium

        ents = read_osm_xml(spark, f"{REF}/extract/input1.osm")
        a = fileinfo_crc_libosmium(ents).collect()[0]
        b = fileinfo_crc_libosmium(ents.repartition(7)).collect()[0]
        assert a["stream_crc32"] == b["stream_crc32"]
        assert a["bytes"] == b["bytes"] and a["rows"] == b["rows"]

    def test_multiple_versions_and_unordered(self, spark):
        from osmium_tool_spark.operators.aggregates import fileinfo_report

        hist = read_osm_xml(spark, f"{REF}/time-filter/input.osh").withColumn(
            "__seq", F.monotonically_increasing_id()
        )
        got = fileinfo_report(hist, seq_col="__seq")
        assert got["multiple_versions"] is True
        assert got["objects_ordered"] is True  # .osh is sorted
        unsorted = read_osm_xml(spark, f"{REF}/merge/unsorted-ids-n.osm").withColumn(
            "__seq", F.monotonically_increasing_id()
        )
        assert fileinfo_report(unsorted, seq_col="__seq")["objects_ordered"] is False


class TestXmlWriterByteParity:
    """sinks/osmxml.write_osm_xml round-trips the reference's own golden
    files byte-for-byte (read golden -> write -> identical bytes)."""

    FILES = [
        ("sort/output-simple.osm", False),
        ("sort/output-neg.osm", False),
        ("sort/output-history.osm", False),
        ("merge/output3.osm", False),
        ("getparents/out-n10.osm", False),
        ("time-filter/output-range-2-4.osh", True),
    ]

    @pytest.mark.parametrize("fname,vis", FILES, ids=[f for f, _ in FILES])
    def test_roundtrip_bytes(self, spark, fname, vis, tmp_path):
        import re

        from osmium_tool_spark.sinks.osmxml import write_osm_xml

        src = open(f"{REF}/{fname}").read()
        df = read_osm_xml(spark, f"{REF}/{fname}")
        out = str(tmp_path / "out.osm")
        m = re.search(r'<osm version="0.6"( upload="false")? generator="([^"]*)"', src)
        write_osm_xml(
            df, out, generator=m.group(2), with_visible=vis,
            upload_false=m.group(1) is not None,
        )
        assert open(out).read() == src


@pytest.mark.parametrize("fname", ["cat/input1.osm.gz", "cat/input1.osm.bz2"])
def test_compressed_xml_inputs(spark, fname):
    # reference io.cpp:39-61: gzip/bz2 XML transparently readable
    got = canon_rows(read_osm_xml(spark, f"{REF}/{fname}"))
    want = canon_rows(read_osm_xml(spark, f"{REF}/cat/input1.osm"))
    assert got == want and got


class TestApplyChangesRedactGoldens:
    """--redact history patch mode (command_apply_changes.cpp:129-135,
    :325-332): change objects wholesale-replace stored objects with the
    same (type, id, version) — timestamp excluded from the equality
    (object_order_type_id_version_without_timestamp)."""

    CASES = [
        ("input-redact-and-update.osh", "input-redact-and-update.osc",
         "output-redact-and-update.osh"),
        ("input-patch-old-version.osh", "input-patch-old-version.osc",
         "output-patch-old-version.osh"),
        ("input-redact-metadata.osh", "input-redact-metadata.osc",
         "output-redact-metadata.osh"),
    ]

    @pytest.mark.parametrize("base,change,expected", CASES, ids=[e for _, _, e in CASES])
    def test_redact_golden(self, spark, base, change, expected):
        from osmium_tool_spark.operators.changes import apply_changes

        b = read_osm_xml(spark, f"{REF}/apply-changes/{base}")
        c = read_osm_xml(spark, f"{REF}/apply-changes/{change}")
        got = canon_rows(apply_changes(b, [c], redact=True), keep_order=True)
        want = canon_rows(
            read_osm_xml(spark, f"{REF}/apply-changes/{expected}"), keep_order=True
        )
        assert got == want

    def test_redact_rejects_locations_on_ways(self, spark):
        from osmium_tool_spark.operators.changes import apply_changes

        b = read_osm_xml(spark, f"{REF}/apply-changes/input-data.osm")
        with pytest.raises(ValueError, match="locations_on_ways"):
            apply_changes(b, [b], redact=True, locations_on_ways=True)


class TestDistributedXmlRead:
    """Large plain .osm files switch to the splittable distributed read
    (driver probes element-boundary split points, executors parse byte
    ranges); unsplittable large inputs (compressed, osmChange) fail
    fast with a guard pointing at PBF/OPL/parquet."""

    def _synth_xml(self, tmp_path, n=3000):
        lines = ['<?xml version="1.0" encoding="UTF-8"?>',
                 '<osm version="0.6" generator="t">']
        for i in range(1, n + 1):
            lines.append(
                f'  <node id="{i}" version="1" '
                f'timestamp="2015-01-0{1 + i % 9}T00:00:00Z" uid="3" '
                f'user="u" changeset="9" lat="{(i % 80)}.5" lon="{(i % 170)}.25">'
            )
            lines.append(f'    <tag k="n" v="v{i}"/>')
            if i == 7:  # a repeated key: both reads keep the last value
                lines.append('    <tag k="n" v="last"/>')
            lines.append("  </node>")
        for i in range(1, n // 10 + 1):
            lines.append(f'  <way id="{i}" version="1">')
            lines.append(f'    <nd ref="{i}"/><nd ref="{i + 1}"/>')
            lines.append(f'    <tag k="w" v="x{i}"/>')
            lines.append("  </way>")
        for i in range(1, n // 100 + 1):
            lines.append(f'  <relation id="{i}" version="1">')
            lines.append(f'    <member type="way" ref="{i}" role="outer"/>')
            lines.append("  </relation>")
        lines.append("</osm>")
        p = tmp_path / "big.osm"
        p.write_text("\n".join(lines))
        return str(p)

    def test_distributed_equals_driver(self, spark, tmp_path):
        p = self._synth_xml(tmp_path)
        driver_rows = canon_rows(
            read_osm_xml(spark, p, distributed_min_bytes=1 << 40)
        )
        dist = read_osm_xml(spark, p, distributed_min_bytes=1)
        # force small splits so multiple ranges actually happen
        from osmium_tool_spark.sources.osmxml import _read_osm_xml_distributed

        dist_small = _read_osm_xml_distributed(spark, p, split_bytes=10_000)
        assert canon_rows(dist) == driver_rows
        assert canon_rows(dist_small) == driver_rows
        assert len(driver_rows) == 3000 + 300 + 30
        node7 = dist.filter("type = 0 AND id = 7").collect()[0]
        assert node7.tags == {"n": "last"}

    def test_large_osc_guard(self, spark, tmp_path):
        p = tmp_path / "big.osc"
        p.write_text(
            '<osmChange version="0.6"><modify>'
            + '<node id="1" version="2" lat="1" lon="1"/>' * 100
            + "</modify></osmChange>"
        )
        with pytest.raises(ValueError, match="cannot be split"):
            read_osm_xml(spark, str(p), distributed_min_bytes=10)

    def test_large_compressed_guard(self, spark, tmp_path):
        import gzip

        p = tmp_path / "big.osm.gz"
        with gzip.open(p, "wt") as f:
            f.write('<osm version="0.6">'
                    + '<node id="1" version="1" lat="1" lon="1"/>' * 200
                    + "</osm>")
        with pytest.raises(ValueError, match="cannot be split"):
            read_osm_xml(spark, str(p), distributed_min_bytes=10)


class TestJvmSerializerParity:
    """xml_element_col (the JVM whole-stage-codegen XML renderer) must be
    byte-equal to make_row_serializer (the Python oracle) over edge rows:
    anonymous objects, zeroed --clean attrs, entity/quote escaping in
    user/tag/role strings, negative/zero coordinates, empty role."""

    def test_column_equals_python(self, spark):
        from osmium_tool_spark.schema import NODE, RELATION, WAY
        from osmium_tool_spark.sinks.osmxml import (
            _entries_iter,
            make_row_serializer,
            xml_element_col,
        )

        rows = [
            (NODE, 10, 1, True, 1, 1420074000000000, 1, "test", {"a": "b"},
             15000000, 7000001, None, None),
            (NODE, -3, 0, True, 0, 0, 0, "", {}, -1800000000, 900000000, None, None),
            (NODE, 11, 2, False, 5, 1420074000000000, 9, 'we"ird\'nåme&<>',
             {"k<": "v&\n", "tab\t": 'q"x'}, 0, -5, None, None),
            (NODE, 12, 3, True, 2, 86399000000, 1, "t", {}, 1234567891, -999999999,
             None, None),
            (WAY, 20, 1, True, 1, 1420074000000000, 1, "test", {"x": "y"},
             None, None, [10, 11, 12], None),
            (WAY, 21, 1, True, 1, 1420074000000000, 1, "test", {}, None, None,
             [], None),
            (RELATION, 30, 1, True, 1, 1420074000000000, 1, "test", {}, None, None,
             None, [{"mtype": NODE, "ref": 10, "role": "m'1\""},
                    {"mtype": WAY, "ref": 20, "role": ""},
                    {"mtype": RELATION, "ref": 31, "role": None}]),
        ]
        schema = (
            "type int, id long, version int, visible boolean, changeset long, "
            "ts long, uid int, user string, tags map<string,string>, lon long, "
            "lat long, refs array<long>, "
            "members array<struct<mtype:int,ref:long,role:string>>"
        )
        df = spark.createDataFrame(rows, schema)
        for wv in (False, True):
            got = [r.value for r in
                   df.select(xml_element_col(df, with_visible=wv).alias("value")).collect()]
            ser = make_row_serializer(with_visible=wv)
            want = [ser(r) for r in _entries_iter(df)]
            assert got == want
