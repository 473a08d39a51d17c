"""CLI front-end: reference command surface over entity parquet dirs."""

import json

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.cli import main
from osmium_tool_spark.schema import NODE, WAY
from tests import fixtures


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli") / "input1")
    fixtures.extract_input1(spark).write.parquet(d)
    return d


def test_cli_extract_bbox(spark, input_dir, tmp_path):
    out = str(tmp_path / "out")
    rc = main(
        ["extract", "--bbox", "0,0,1.5,10", "-s", "simple", input_dir, "-o", out],
        spark=spark,
    )
    assert rc == 0
    got = {(r.type, r.id) for r in spark.read.parquet(out).collect()}
    assert got == fixtures.EXTRACT1_EXPECTED["simple"]


def test_cli_tags_filter(spark, input_dir, tmp_path):
    out = str(tmp_path / "tf")
    rc = main(["tags-filter", input_dir, "w/foo=bar", "-R", "-o", out], spark=spark)
    assert rc == 0
    got = {(r.type, r.id) for r in spark.read.parquet(out).collect()}
    assert got == {(WAY, 20)}


def test_cli_cat_type_filter(spark, input_dir, tmp_path):
    out = str(tmp_path / "cat")
    rc = main(["cat", input_dir, "-t", "n", "-o", out], spark=spark)
    assert rc == 0
    back = spark.read.parquet(out)
    assert back.filter(F.col("type") != NODE).count() == 0


def test_cli_getid_missing_exits_1(spark, input_dir, tmp_path):
    rc = main(["getid", input_dir, "n999999", "-o", str(tmp_path / "g")], spark=spark)
    assert rc == 1


def test_cli_getid_partial_find_exits_1(spark, input_dir, tmp_path):
    # reference command_getid.cpp:396: ANY missing requested id -> exit 1,
    # even when some ids WERE found and written
    out = str(tmp_path / "gp")
    rc = main(["getid", input_dir, "n10", "n999999", "-o", out], spark=spark)
    assert rc == 1
    got = {(r.type, r.id) for r in spark.read.parquet(out).collect()}
    assert got == {(NODE, 10)}


def test_cli_getid_id_file(spark, input_dir, tmp_path):
    idf = tmp_path / "ids.txt"
    idf.write_text("n10 trailing comment\nw20\n# full comment line\nn11#inline\n")
    out = str(tmp_path / "gf")
    rc = main(["getid", input_dir, "-i", str(idf), "-o", out], spark=spark)
    assert rc == 0
    got = {(r.type, r.id) for r in spark.read.parquet(out).collect()}
    assert got == {(NODE, 10), (NODE, 11), (WAY, 20)}


def test_cli_removeid_id_osm_file(spark, input_dir, tmp_path):
    ref = tmp_path / "ids.opl"
    ref.write_text("n10 v1 dV c1 t2020-01-01T00:00:00Z i0 u T x1 y1\n")
    out = str(tmp_path / "rm")
    rc = main(["removeid", input_dir, "-I", str(ref), "-o", out], spark=spark)
    assert rc == 0
    got = {(r.type, r.id) for r in spark.read.parquet(out).collect()}
    assert (NODE, 10) not in got and (NODE, 11) in got


def test_cli_getid_no_ids_exits_2(spark, input_dir, tmp_path):
    rc = main(["getid", input_dir, "-o", str(tmp_path / "e")], spark=spark)
    assert rc == 2


def test_cli_diff_compact_and_summary(spark, input_dir, tmp_path, capsys):
    import pyspark.sql.functions as F

    left_dir = str(tmp_path / "l")
    right_dir = str(tmp_path / "r")
    ents = spark.read.parquet(input_dir)
    ents.filter(F.col("id") != 11).write.parquet(left_dir)   # n11 right-only
    ents.filter(F.col("id") != 12).write.parquet(right_dir)  # n12 left-only
    rc = main(["diff", left_dir, right_dir, "-s"], spark=spark)
    assert rc == 1  # differences exist -> exit 1 (command_diff.cpp:394)
    captured = capsys.readouterr()
    lines = [ln for ln in captured.out.splitlines() if ln]
    assert "+n11 v1" in lines and "-n12 v1" in lines
    assert sum(1 for ln in lines if ln.startswith(" ")) > 0  # same lines kept
    assert "Summary: left=1 right=1" in captured.err


def test_cli_diff_quiet_equal_exits_0(spark, input_dir, tmp_path):
    rc = main(["diff", input_dir, input_dir, "-q"], spark=spark)
    assert rc == 0


def test_cli_time_filter_replication_header(spark, input_dir, tmp_path):
    import json as _json

    src = str(tmp_path / "withhdr")
    spark.read.parquet(input_dir).write.parquet(src)
    with open(src + "/_header.json", "w") as f:
        _json.dump({"osmosis_replication_timestamp": "2030-01-01T00:00:00Z"}, f)
    out = str(tmp_path / "tf_out")
    t = 1_600_000_000_000_000  # upper bound (2020) before the 2030 replication ts
    rc = main(["time-filter", src, str(t), "-o", out], spark=spark)
    assert rc == 0
    hdr = _json.load(open(out + "/_header.json"))
    # reference command_time_filter.cpp:137-149: output ts clamped to the cut
    import time as _time

    want = _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime(t // 1_000_000))
    assert hdr["osmosis_replication_timestamp"] == want


def test_cli_extract_conflicting_args_exit(spark, input_dir, tmp_path):
    with pytest.raises(SystemExit):
        main(["extract", input_dir, "-o", str(tmp_path / "x")], spark=spark)


def test_cli_export_geojsonseq(spark, input_dir, tmp_path):
    out = str(tmp_path / "exp")
    rc = main(["export", input_dir, "-f", "geojsonseq", "-o", out], spark=spark)
    assert rc == 0
    lines = spark.read.text(out).collect()
    # reference default: every record starts with the RFC 7464 RS byte
    assert all(r.value.startswith("\x1e") for r in lines)
    feats = [json.loads(r.value.lstrip("\x1e")) for r in lines]
    assert all(f["type"] == "Feature" for f in feats)


def test_cli_export_geojson_default_is_one_featurecollection(spark, input_dir, tmp_path):
    # plain geojson is the reference's DEFAULT output format
    # (command_export.cpp:527-545): one valid FeatureCollection document
    out = str(tmp_path / "fc.geojson")
    rc = main(["export", input_dir, "-o", out], spark=spark)
    assert rc == 0
    doc = json.loads(open(out).read())
    assert doc["type"] == "FeatureCollection"
    assert len(doc["features"]) > 0
    assert all(f["type"] == "Feature" for f in doc["features"])


def test_cli_export_text_wkt(spark, input_dir, tmp_path):
    out = str(tmp_path / "txt")
    rc = main(["export", input_dir, "-f", "text", "-o", out], spark=spark)
    assert rc == 0
    text = (tmp_path / "txt").read_text()  # single file (reference parity)
    lines = [ln for ln in text.splitlines() if ln]
    assert all(
        ln.startswith(("POINT(", "LINESTRING(", "POLYGON((", "MULTIPOLYGON("))
        for ln in lines
    )
    # tagged features only; geometry then space then k=v list
    assert all(" " in ln and "=" in ln.split(" ", 1)[1] for ln in lines)


def test_cli_bad_input_exit_2(spark, tmp_path):
    rc = main(["sort", str(tmp_path / "nope"), "-o", str(tmp_path / "o")], spark=spark)
    assert rc == 2


def test_cli_opl_input_output(spark, tmp_path):
    src = tmp_path / "in.opl"
    src.write_text(
        "n1 v1 dV c1 t2020-01-01T00:00:00Z i0 u Tamenity=cafe x1 y1\n"
        "n2 v1 dV c1 t2020-01-01T00:00:00Z i0 u T x5 y5\n"
        "w9 v1 dV c1 t2020-01-01T00:00:00Z i0 u Thighway=x Nn1,n2\n"
    )
    out = str(tmp_path / "out.opl")
    rc = main(["tags-filter", str(src), "n/amenity", "-R", "-o", out], spark=spark)
    assert rc == 0
    text = (tmp_path / "out.opl").read_text()  # single file (reference parity)
    assert text.startswith("n1 ") and "amenity=cafe" in text and "w9" not in text


def test_cli_show_prints_opl(spark, input_dir, capsys):
    rc = main(["show", input_dir, "-n", "3"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 3 and out[0].startswith("n10 ")


def test_cli_show_type_filter_and_xml(spark, input_dir, capsys):
    rc = main(["show", input_dir, "-t", "way", "-n", "2"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out and all(line.startswith("w") for line in out)
    rc = main(["show", input_dir, "-x", "-n", "2", "--no-pager"], spark=spark)
    assert rc == 0
    xml = capsys.readouterr().out
    assert xml.startswith("<?xml") and "<osm " in xml and "<node" in xml


def test_cli_changeset_filter(spark, tmp_path):
    cs = spark.createDataFrame(
        [(1, 100, True, 5, "", 3, 0, 10, 0, 10), (2, 200, False, 5, "", 0, 0, 10, 0, 10)],
        "id long, created_at long, open boolean, uid int, user string, "
        "num_changes long, min_lon long, max_lon long, min_lat long, max_lat long",
    )
    src = str(tmp_path / "cs")
    cs.write.parquet(src)
    out = str(tmp_path / "out")
    rc = main(["changeset-filter", src, "--open", "--with-changes", "-o", out], spark=spark)
    assert rc == 0
    got = spark.read.parquet(out).collect()
    assert [r.id for r in got] == [1]


def test_cli_extract_polygon_file(spark, input_dir, tmp_path):
    poly = tmp_path / "region.poly"
    poly.write_text("region\nfirst\n  0.0 -1.0\n  3.0 -1.0\n  3.0 11.0\n  0.0 11.0\nEND\nEND\n")
    out = str(tmp_path / "pout")
    rc = main(["extract", "--polygon", str(poly), "-s", "simple", input_dir, "-o", out], spark=spark)
    assert rc == 0
    got = {(r.type, r.id) for r in spark.read.parquet(out).collect()}
    # the poly box covers all fixture nodes (lon 1-2, lat 0-6)
    assert (0, 10) in got and (1, 20) in got


def test_cli_extract_config_multi(spark, input_dir, tmp_path):
    import json as _json

    cfg = tmp_path / "extracts.json"
    cfg.write_text(_json.dumps({
        "extracts": [
            {"bbox": [0, 0, 1.5, 10]},
            {"bbox": {"left": 1.6, "bottom": 0, "right": 3, "top": 10}},
            {"polygon": [[[0.5, -0.5], [2.5, -0.5], [2.5, 6.5], [0.5, 6.5], [0.5, -0.5]]]},
        ]
    }))
    out = str(tmp_path / "cout")
    rc = main(["extract", "--config", str(cfg), "-s", "simple", input_dir, "-o", out], spark=spark)
    assert rc == 0
    assert spark.read.parquet(out).count() > 0


def test_cli_getid_with_history_keeps_versions_and_exit_0(spark, tmp_path):
    from tests import fixtures

    src = str(tmp_path / "hist")
    fixtures.history_input(spark).write.parquet(src)
    out = str(tmp_path / "gh")
    # n999999 missing, but history mode never signals missing ids
    rc = main(["getid", src, "n1", "n999999", "-H", "-o", out], spark=spark)
    assert rc == 0
    got = [(r.type, r.id, r.version) for r in spark.read.parquet(out).collect()]
    assert len(got) == len(set(got)) and len({v for _, _, v in got}) > 1


def test_cli_help_smoke_all_commands(capsys):
    # reference help/synopsis smoke tests (test/CMakeLists.txt:92-100)
    import pytest as _pytest

    from osmium_tool_spark.cli import build_parser

    parser = build_parser()
    sub = next(
        a for a in parser._actions
        if isinstance(a, __import__("argparse")._SubParsersAction)
    )
    assert len(sub.choices) >= 23
    for name, sp in sub.choices.items():
        with _pytest.raises(SystemExit) as e:
            sp.parse_args(["-h"])
        assert e.value.code == 0
        out = capsys.readouterr().out
        assert "usage:" in out and name in out


def test_cli_export_unique_id_type_id(spark, input_dir, tmp_path):
    out = str(tmp_path / "uid.geojson")
    rc = main(["export", input_dir, "-u", "type_id", "-o", out], spark=spark)
    assert rc == 0
    doc = json.loads(open(out).read())
    ids = {f["id"] for f in doc["features"]}
    assert ids and all(i[0] in "nwra" for i in ids)


def test_cli_xml_in_xml_out_sort_golden(spark, tmp_path):
    # end-to-end reference shape: sort the reference's own XML inputs and
    # byte-compare the XML output against the committed golden
    out = str(tmp_path / "sorted.osm")
    rc = main(
        ["--generator", "test", "sort",
         "/root/reference/test/sort/input-simple1.osm",
         "/root/reference/test/sort/input-simple2.osm", "-o", out],
        spark=spark,
    )
    assert rc == 0
    assert open(out).read() == open("/root/reference/test/sort/output-simple.osm").read()


def test_cli_osc_in_osc_out_sort_golden(spark, tmp_path):
    out = str(tmp_path / "sorted.osc")
    rc = main(
        ["--generator", "test", "sort",
         "/root/reference/test/sort/input-change.osc", "-o", out],
        spark=spark,
    )
    assert rc == 0
    assert open(out).read() == open("/root/reference/test/sort/output-change.osc").read()


def test_generator_reaches_parquet_header(spark, tmp_path):
    """--generator must land in the parquet sink's _header.json, not just
    the XML sinks."""
    import json as _json

    from osmium_tool_spark.cli import main

    out = str(tmp_path / "out")
    rc = main(
        ["--generator", "mygen/9.9", "cat",
         "/root/reference/test/cat/input1.osm", "-o", out],
        spark=spark,
    )
    assert rc == 0
    hdr = _json.load(open(f"{out}/_header.json"))
    assert hdr["generator"] == "mygen/9.9"


class TestShowGoldens:
    """`show -f debug/opl/xml` vs the reference's committed show goldens
    (test/show/CMakeLists.txt runs exactly these three)."""

    REF = "/root/reference/test"

    def _golden(self, name):
        return open(f"{self.REF}/show/{name}").read()

    def test_show_debug_golden(self, spark, capsys):
        rc = main(["show", f"{self.REF}/show/input.osm", "-f", "debug"], spark=spark)
        assert rc == 0
        assert capsys.readouterr().out == self._golden("output-debug.txt")

    def test_show_opl_golden(self, spark, capsys):
        rc = main(["show", f"{self.REF}/show/input.osm", "-f", "opl"], spark=spark)
        assert rc == 0
        assert capsys.readouterr().out == self._golden("output-opl.opl")

    def test_show_xml_golden(self, spark, capsys):
        rc = main(["show", f"{self.REF}/show/input.osm", "-f", "xml"], spark=spark)
        assert rc == 0
        assert capsys.readouterr().out == self._golden("output-xml.osm")


class TestDiffGoldens:
    """The full committed diff matrix (test/diff/CMakeLists.txt): byte
    parity of compact and marked-OPL outputs, --ignore-uid field
    suppression, and the reference exit codes."""

    REF = "/root/reference/test/diff"

    CASES = [
        ("compact", [], "output-compact", 1),
        ("compact-c", ["-c"], "output-compact-c", 1),
        ("opl", ["-f", "opl"], "output.opl", 1),
        ("opl-c", ["-f", "opl", "-c"], "output-c.opl", 1),
        ("ignore-uid", ["--ignore-uid", "-c"], "output-compact-c-nouid", 1),
        ("ignore-uid-opl", ["--ignore-uid", "-f", "opl", "-c"],
         "output-compact-c-nouid-opl", 1),
    ]

    @pytest.mark.parametrize("name,opts,golden,code", CASES,
                             ids=[c[0] for c in CASES])
    def test_diff_golden(self, spark, capsys, name, opts, golden, code):
        rc = main(
            ["diff", f"{self.REF}/input1.osm", f"{self.REF}/input2.osm", *opts],
            spark=spark,
        )
        assert rc == code
        assert capsys.readouterr().out == open(f"{self.REF}/{golden}").read()

    def test_diff_same_inputs(self, spark, capsys):
        rc = main(["diff", f"{self.REF}/input1.osm", f"{self.REF}/input1.osm"],
                  spark=spark)
        assert rc == 0
        assert capsys.readouterr().out == open(f"{self.REF}/output-same").read()

    @pytest.mark.parametrize("fmt", [[], ["-f", "opl"]], ids=["compact", "opl"])
    def test_diff_uid_only_difference_ignored(self, spark, capsys, fmt):
        rc = main(
            ["diff", f"{self.REF}/input1uid.osm", f"{self.REF}/input2uid.osm",
             "--ignore-uid", "-c", *fmt],
            spark=spark,
        )
        assert rc == 0
        assert capsys.readouterr().out == open(f"{self.REF}/output-empty").read()


class TestApplyChangesGoldens:
    """The committed apply-changes matrix run DIRECTLY through the CLI
    (test/apply-changes/CMakeLists.txt): byte parity of the XML outputs,
    history-mode autodetect from the .osh suffix, --locations-on-ways
    nd lat/lon output."""

    REF = "/root/reference/test/apply-changes"

    CASES = [
        ("data", [], "input-data.osm", "out.osm", "output-data.osm"),
        ("osh-osh", [], "input-history.osh", "out.osh", "output-history.osh"),
        ("osh-osh-wh", ["--with-history"], "input-history.osh", "out.osh",
         "output-history.osh"),
        ("osm-osh-wh", ["--with-history"], "input-history.osm", "out.osh",
         "output-history.osh"),
        ("data-low", ["--locations-on-ways"], "input-data-low.osm", "out.osm",
         "output-data-low.osm"),
        ("version-on-vt", [], "input-version+timestamp.osm", "out.osm",
         "output-version-applied-on-version+timestamp.osm", "input-version.osc"),
        ("version-on-vt-low", ["--locations-on-ways"],
         "input-version+timestamp.osm", "out.osm",
         "output-version-applied-on-version+timestamp-low.osm", "input-version.osc"),
    ]

    @pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
    def test_apply_changes_golden(self, spark, tmp_path, case):
        name, opts, inp, outname, golden = case[:5]
        change = case[5] if len(case) > 5 else "input-change.osc"
        out = str(tmp_path / outname)
        rc = main(
            ["--generator", "test", "apply-changes", *opts,
             f"{self.REF}/{inp}", f"{self.REF}/{change}", "-o", out],
            spark=spark,
        )
        assert rc == 0
        assert open(out).read() == open(f"{self.REF}/{golden}").read()


class TestDeriveChangesGoldens:
    """The committed derive-changes matrix run DIRECTLY through the CLI:
    version/timestamp-only equality (unset timestamp = wildcard),
    version-based create/modify, bare delete stubs."""

    REF = "/root/reference/test/derive-changes"

    CASES = [
        ("normal", [], "input1.osm", "input2.osm", "output.osc"),
        ("keep-details", ["--keep-details"], "input1.osm", "input2.osm",
         "output-keep-details.osc"),
        ("incr-version", ["--increment-version"], "input1.osm", "input2.osm",
         "output-incr-version.osc"),
        ("only-versions", [], "input1.osm", "input2-only-versions.osm",
         "output-2-only-version.osc"),
        ("vt-with-v", [], "input1-only-version-timestamp.osm",
         "input2-only-versions.osm", "output-2-only-version-timestamp.osc"),
        ("v-with-vt", [], "input1-only-version.osm",
         "input2-only-version-timestamp.osm",
         "output-2-version-with-version-timestamp.osc"),
        ("v-with-all", [], "input1-only-version.osm",
         "input2-all-with-relation.osm", "output-2-version-with-all.osc"),
    ]

    @pytest.mark.parametrize("name,opts,old,new,golden", CASES,
                             ids=[c[0] for c in CASES])
    def test_derive_changes_golden(self, spark, tmp_path, name, opts, old, new, golden):
        out = str(tmp_path / "out.osc")
        rc = main(
            ["--generator", "test", "derive-changes", *opts,
             f"{self.REF}/{old}", f"{self.REF}/{new}", "-o", out],
            spark=spark,
        )
        assert rc == 0
        assert open(out).read() == open(f"{self.REF}/{golden}").read()


class TestRenumberGoldens:
    """The committed renumber matrix DIRECTLY through the CLI: header
    passthrough (upload hint), -t type restriction, per-type/negative
    start ids (0 = default 1), and the two-phase --index-dir flow where
    a change file is renumbered with the persisted mapping."""

    REF = "/root/reference/test/renumber"

    def _run(self, spark, args):
        rc = main(["--generator", "test", "renumber", *args], spark=spark)
        assert rc == 0

    def test_renumber_sorted(self, spark, tmp_path):
        out = str(tmp_path / "o.osm")
        self._run(spark, [f"{self.REF}/input-sorted.osm", "-o", out])
        assert open(out).read() == open(f"{self.REF}/output-sorted.osm").read()

    def test_renumber_nodes_only(self, spark, tmp_path):
        out = str(tmp_path / "o.osm")
        self._run(spark, ["-t", "n", f"{self.REF}/input-sorted.osm", "-o", out])
        assert open(out).read() == open(f"{self.REF}/output-sorted-n.osm").read()

    def test_renumber_start_zero_is_default(self, spark, tmp_path):
        out = str(tmp_path / "o.osm")
        self._run(spark, ["--start-id", "0,3,-3", f"{self.REF}/input-sorted.osm", "-o", out])
        assert open(out).read() == open(f"{self.REF}/output-sorted-s.osm").read()

    @pytest.mark.parametrize("data,golden", [
        ("input-sorted.osm", "output-change.osc"),
        ("input-norel.osm", "output-norel-change.osc"),
    ], ids=["change", "change-norel"])
    def test_renumber_change_via_index_dir(self, spark, tmp_path, data, golden):
        idx = str(tmp_path / "idx")
        self._run(spark, ["--index-dir", idx, f"{self.REF}/{data}",
                          "-o", str(tmp_path / "d.osm")])
        out = str(tmp_path / "c.osc")
        self._run(spark, ["--index-dir", idx, f"{self.REF}/input-change.osc",
                          "-o", out])
        assert open(out).read() == open(f"{self.REF}/{golden}").read()


class TestCatGoldens:
    """The committed cat matrix DIRECTLY through the CLI: XML output
    preserves CONCATENATION order (cat is a streaming pass, not a sort),
    and every input format converts to the same OPL bytes."""

    REF = "/root/reference/test/cat"

    @pytest.mark.parametrize("a,b,golden", [
        ("input1.osm", "input2.osm", "output-cat12.osm"),
        ("input2.osm", "input1.osm", "output-cat21.osm"),
    ], ids=["cat12", "cat21"])
    def test_cat_order(self, spark, tmp_path, a, b, golden):
        out = str(tmp_path / "o.osm")
        rc = main(["--generator", "test", "cat", f"{self.REF}/{a}",
                   f"{self.REF}/{b}", "-o", out], spark=spark)
        assert rc == 0
        assert open(out).read() == open(f"{self.REF}/{golden}").read()

    @pytest.mark.parametrize("src", [
        "input1.osm", "input1.osm.gz", "input1.osm.bz2",
        "input1.osm.pbf", "output1.osm.opl",
    ])
    def test_cat_convert_to_opl(self, spark, tmp_path, src):
        out = str(tmp_path / "o.opl")
        rc = main(["--generator", "test", "cat", f"{self.REF}/{src}",
                   "-o", out], spark=spark)
        assert rc == 0
        # single-file output (reference parity, src/io.cpp:39-61)
        assert open(out).read() == open(f"{self.REF}/output1.osm.opl").read()


class TestExportCliGoldens:
    """The committed export matrix DIRECTLY through the CLI
    (test/export/CMakeLists.txt): RFC 7464 RS framing is the geojsonseq
    default (-x print_record_separator=false turns it off), no id member
    without -u, areas after all non-area features, and the full
    linear/area config matrix byte-for-byte."""

    REF = "/root/reference/test/export"

    def _run(self, spark, args, out):
        rc = main(["export", *args, "-o", out], spark=spark)
        assert rc == 0

    def _parts(self, out):
        # single-file export output (reference parity, round 4); keep the
        # directory fallback so the helper names stay stable
        import pathlib

        p = pathlib.Path(out)
        if p.is_dir():
            return "".join(q.read_text() for q in sorted(p.glob("part-*")))
        return p.read_text()

    def test_geojson_default(self, spark, tmp_path):
        out = str(tmp_path / "o.geojson")
        self._run(spark, ["-f", "geojson", f"{self.REF}/input.osm"], out)
        assert open(out).read() == open(f"{self.REF}/output.geojson").read()

    def test_geojsonseq_rs_default_and_off(self, spark, tmp_path):
        out = str(tmp_path / "rs")
        self._run(spark, ["-f", "geojsonseq", "-u", "type_id", f"{self.REF}/input.osm"], out)
        assert self._parts(out) == open(f"{self.REF}/output-uid.geojsonseq").read()
        out2 = str(tmp_path / "nors")
        self._run(spark, ["-f", "geojsonseq", "-x", "print_record_separator=false",
                          f"{self.REF}/input.osm"], out2)
        assert self._parts(out2) == open(f"{self.REF}/output.geojsonseq").read()

    def test_geojsonseq_counter(self, spark, tmp_path):
        out = str(tmp_path / "cnt")
        self._run(spark, ["-f", "geojsonseq", "-u", "counter", f"{self.REF}/input.osm"], out)
        assert self._parts(out) == open(f"{self.REF}/output-cnt.geojsonseq").read()

    ATTRS = "type,id,version,changeset,timestamp,uid,user,way_nodes"

    @pytest.mark.parametrize("src,golden", [
        ("input.osm", "output-attr.geojson"),
        ("input-chars.osm", "output-chars.geojson"),
    ], ids=["attr", "chars"])
    def test_geojson_attributes(self, spark, tmp_path, src, golden):
        out = str(tmp_path / "o.geojson")
        self._run(spark, ["-f", "geojson", "-n", "-a", self.ATTRS,
                          f"{self.REF}/{src}"], out)
        assert open(out).read() == open(f"{self.REF}/{golden}").read()

    @pytest.mark.parametrize("src,golden", [
        ("input-missing-node.osm", "output-missing-node.geojson"),
        ("input-single-node-way.osm", "output-empty.geojson"),
        ("input-incomplete-relation.osm", "output-incomplete-relation.geojson"),
    ], ids=["missing-node", "single-node-way", "invalid-area"])
    def test_geojson_degenerate_inputs(self, spark, tmp_path, src, golden):
        out = str(tmp_path / "o.geojson")
        self._run(spark, ["-f", "geojson", f"{self.REF}/{src}"], out)
        assert open(out).read() == open(f"{self.REF}/{golden}").read()

    def test_pg(self, spark, tmp_path):
        out = str(tmp_path / "pg")
        self._run(spark, ["-f", "pg", f"{self.REF}/input.osm"], out)
        assert self._parts(out) == open(f"{self.REF}/output.pg").read()

    def test_mp_same_features_any_order(self, spark, tmp_path):
        """Relation-area emission order is libosmium-assembler-internal
        (completion order); we emit canonical order — the FEATURES are
        byte-identical, the sequence differs. Documented deviation."""
        out = str(tmp_path / "mp.geojson")
        self._run(spark, ["-f", "geojson", "-u", "type_id", f"{self.REF}/input-mp.osm"], out)
        # comma framing depends on position in the FeatureCollection —
        # strip it before the order-insensitive compare
        got = sorted(line.rstrip(",") for line in open(out).read().splitlines())
        want = sorted(
            line.rstrip(",")
            for line in open(f"{self.REF}/output-mp.geojson").read().splitlines()
        )
        assert got == want

    def test_text_attributes_way_all(self, spark, tmp_path):
        out = str(tmp_path / "t")
        self._run(spark, ["-E", "-f", "text", "-a", "id", f"{self.REF}/way.osm"], out)
        assert self._parts(out) == open(f"{self.REF}/way-all.txt").read()

    CONFIGS = [
        ("config-empty-empty.json", "way-all.txt", ["--keep-untagged"], "way-all-n.txt"),
        ("config-null-null.json", "way-all.txt", None, None),
        ("config-undefined.json", "way-all.txt", None, None),
        ("config-tag-empty.json", "way-tag-empty.txt", None, None),
        ("config-empty-tag.json", "way-empty-tag.txt", None, None),
        ("config-tag-tag.json", "way-tag-tag.txt", None, None),
        ("config-tagx-empty.json", "way-tagx-empty.txt", None, None),
        ("config-empty-tagx.json", "way-empty-tagx.txt", None, None),
        ("config-tagx-tagx.json", "way-tagx-tagx.txt", None, None),
        ("config-true-true.json", "way-all.txt", None, None),
        ("config-false-false.json", "way-none.txt", None, None),
        ("config-null-tag.json", "way-null-tag.txt", None, None),
        ("config-tag-null.json", "way-tag-null.txt", None, None),
    ]

    @pytest.mark.parametrize("cfg,golden,extra,extra_golden", CONFIGS,
                             ids=[c[0].replace("config-", "").replace(".json", "")
                                  for c in CONFIGS])
    def test_config_matrix(self, spark, tmp_path, cfg, golden, extra, extra_golden):
        out = str(tmp_path / "c")
        self._run(spark, ["-E", "-f", "text", "-c", f"{self.REF}/{cfg}",
                          f"{self.REF}/way.osm"], out)
        assert self._parts(out) == open(f"{self.REF}/{golden}").read()
        if extra:
            out2 = str(tmp_path / "c2")
            self._run(spark, ["-E", "-f", "text", *extra, "-c",
                              f"{self.REF}/{cfg}", f"{self.REF}/way.osm"], out2)
            assert self._parts(out2) == open(f"{self.REF}/{extra_golden}").read()


class TestAddLocationsToWaysGoldens:
    """The committed add-locations-to-ways matrix run DIRECTLY through the
    CLI (test/add-locations-to-ways/CMakeLists.txt): default drops untagged
    nodes, -n keeps all, --keep-member-nodes keeps untagged relation-member
    nodes (command_add_locations_to_ways.cpp:145-160)."""

    REF = "/root/reference/test/add-locations-to-ways"

    CASES = [
        ("taggednodes", [], "input.osm", "output.osm"),
        ("allnodes", ["-n"], "input.osm", "output-n.osm"),
        ("membernodes", ["--keep-member-nodes"], "input-rel.osm",
         "output-rel.osm"),
    ]

    @pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
    def test_add_locations_golden(self, spark, tmp_path, case):
        name, opts, inp, golden = case
        out = str(tmp_path / "out.osm")
        rc = main(
            ["--generator", "test", "--output-header", "xml_josm_upload=false",
             "add-locations-to-ways", *opts, f"{self.REF}/{inp}", "-o", out],
            spark=spark,
        )
        assert rc == 0
        assert open(out).read() == open(f"{self.REF}/{golden}").read()
