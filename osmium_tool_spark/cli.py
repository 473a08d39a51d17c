"""Command-line front-end mirroring osmium-tool's command surface.

Reference dispatch: /root/reference/src/main.cpp:57-131 (command word ->
CommandFactory -> setup(args) -> run(), exit codes 0/1/2
main.cpp:46-50); command registry src/commands.cpp:29-123.

Entities travel as parquet directories in the canonical schema
(schema.ENTITY_SCHEMA). Every subcommand builds a DataFrame plan with the
operators package and writes via the sorted writer (order contract on
write), so:

    python -m osmium_tool_spark extract --bbox 1,2,3,4 in.parquet -o out
    python -m osmium_tool_spark tags-filter in.parquet amenity=post_box -o out
    python -m osmium_tool_spark cat a.parquet b.parquet -t n -o out

behaves like `osmium extract/tags-filter/cat ...` over .osm files.
Designed for `spark-submit --py-files osmium_tool_spark.zip` on a cluster;
locally it creates its own session.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession

from .schema import NAME_TO_TYPE


def _read_one(spark: SparkSession, path: str) -> DataFrame:
    # -F/--input-format overrides suffix autodetect for EVERY input
    # (reference io.cpp:129-141: the format string fully describes the
    # format incl. compression, e.g. -F osm.gz). Routed through a
    # format-suffixed symlink so the suffix-driven readers (and their
    # compression sniffing) apply unchanged.
    if _INPUT_FMT[0]:
        return _read_one_detected(spark, _forced_fmt_path(path, _INPUT_FMT[0]))
    return _read_one_detected(spark, path)


def _forced_fmt_path(path: str, fmt: str) -> str:
    """Symlink `path` as `in-<n>.<fmt>` in a session-lifetime temp dir so
    suffix dispatch sees the forced format (Spark reads lazily — the link
    must outlive this call; cleaned at process exit)."""
    import atexit
    import os
    import tempfile

    if not _FMT_LINK_DIR:
        d = tempfile.mkdtemp(prefix="osmfmt-")
        _FMT_LINK_DIR.append(d)
        atexit.register(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
    link = os.path.join(
        _FMT_LINK_DIR[0], f"in-{len(os.listdir(_FMT_LINK_DIR[0]))}.{fmt}")
    os.symlink(os.path.abspath(path), link)
    return link


_FMT_LINK_DIR: list = []  # session temp dir holding -F format symlinks
_INPUT_FMT: list = [None]  # mutable: -F/--input-format from run()


def _read_one_detected(spark: SparkSession, path: str) -> DataFrame:
    # format autodetect by suffix (reference io.cpp:39-61 analog)
    if path.endswith((".opl", ".opl.gz", ".opl.bz2")):
        from .sources.opl import read_opl

        return read_opl(spark, path)
    if path.endswith(".pbf"):
        from .sources.pbf import read_osm_pbf

        return read_osm_pbf(spark, path)
    if path.endswith((".o5m", ".o5c")):
        from .sources.o5m import read_o5m

        return read_o5m(spark, path)
    if path.endswith((".osm", ".osh", ".osc", ".xml",
                      ".osm.gz", ".osh.gz", ".osc.gz",
                      ".osm.bz2", ".osh.bz2", ".osc.bz2")):
        from .sources.osmxml import read_osm_xml

        return read_osm_xml(spark, path)
    return spark.read.parquet(path)


def _read(spark: SparkSession, paths: list[str]) -> DataFrame:
    from functools import reduce

    dfs = [_read_one(spark, p) for p in paths]
    return reduce(DataFrame.unionByName, dfs)


_GENERATOR = ["osmium_tool_spark/0.1.0"]  # mutable: set by --generator
_OUTPUT_HEADER: dict = {}  # mutable: set by --output-header KEY=VALUE


def _xml_boxes(paths: list[str]) -> list | None:
    """Union of the input XML headers' bounding boxes, as the single
    extended box the reference propagates (command_sort.cpp:112-153:
    Box::extend over every input header, one add_box on output)."""
    import math

    from .sources.osmxml import read_osm_xml_header

    box = [math.inf, math.inf, -math.inf, -math.inf]
    found = False
    for pth in paths:
        if not pth.endswith((".osm", ".osh", ".osc", ".xml", ".osm.gz",
                             ".osm.bz2", ".osh.gz", ".osh.bz2")):
            continue
        try:
            hdr = read_osm_xml_header(pth)
        except Exception:
            continue
        for b in hdr["header"]["boxes"]:
            found = True
            box[0] = min(box[0], b[0])
            box[1] = min(box[1], b[1])
            box[2] = max(box[2], b[2])
            box[3] = max(box[3], b[3])
    return [box] if found else None


def _xml_in_opts(paths: list[str]) -> dict:
    """First XML input's header options — the commands that construct
    their output header from reader.header() (getid/removeid/getparents/
    tags-filter/time-filter/cat-single, e.g. command_getid.cpp:346)
    propagate these; --output-header overrides win."""
    from .sources.osmxml import read_osm_xml_header

    p = paths[0] if paths else ""
    if p.endswith((".osm", ".osh", ".osc", ".xml", ".osm.gz", ".osm.bz2",
                   ".osh.gz", ".osh.bz2")):
        try:
            return dict(read_osm_xml_header(p)["header"]["option"])
        except Exception:
            return {}
    return {}


def _obase(out: str) -> str:
    """Output path with any trailing compression suffix stripped — the
    format dispatch looks at the format suffix underneath, matching the
    reference's two-stage suffix rule (io.cpp:39-61: out.osm.gz is
    XML + gzip)."""
    from .sinks.textfile import split_compression

    return split_compression(out)[0]


def _osel(out: str) -> str:
    """EFFECTIVE format selector for suffix checks: the -f override when
    given (normalized so 'xml' reads as '.osm'), else the output path
    with compression stripped."""
    from .sinks.textfile import split_compression

    if _OUTPUT_FMT[0]:
        sel = split_compression("x." + _OUTPUT_FMT[0])[0]
        return "x.osm" if sel == "x.xml" else sel
    return split_compression(out)[0]


_OUTPUT_FMT: list = [None]  # mutable: -f/--output-format from run()
_OVERWRITE: list = [False]  # mutable: -O/--overwrite from run()
_FSYNC: list = [False]  # mutable: --fsync from run()
_VERBOSE: list = [False]  # mutable: -v/--verbose from run()
_T0: list = [0.0]  # run() start, for _vout elapsed-time prefixes


def _vout(msg: str) -> None:
    """Reference VerboseOutput analog: '[ M:SS] msg' lines on stderr when
    -v/--verbose is set (libosmium util/verbose_output.hpp format)."""
    if _VERBOSE[0]:
        import time as _t

        el = int(_t.monotonic() - _T0[0])
        print(f"[{el // 60:2d}:{el % 60:02d}] {msg}", file=sys.stderr)


def _check_overwrite(path: str | None) -> None:
    """Reference parity: refuse to clobber an existing output file unless
    -O/--overwrite (libosmium opens with O_EXCL; the thrown system_error
    reads `Open failed for '<file>': File exists`). main() maps the raise
    to exit 2 like the reference's exception path (main.cpp:46-50)."""
    import os

    if path and path != "-" and not _OVERWRITE[0] and os.path.exists(path):
        raise RuntimeError(f"Open failed for '{path}': File exists")


def _write(df: DataFrame, out: str, fmt: str = "parquet", header: dict | None = None,
           sort: bool = True, boxes: list | None = None,
           in_opts: dict | None = None, propagate_opts: bool = True) -> None:
    from .sinks.textfile import split_compression

    _check_overwrite(out)
    if _OVERWRITE[0]:
        # reference -O opens O_TRUNC; for the parquet sink (a directory)
        # the equivalent is clearing the target so Spark's exists-check
        # doesn't refuse
        import os as _os
        import shutil as _sh

        if _os.path.isdir(out):
            _sh.rmtree(out, ignore_errors=True)
        elif _os.path.isfile(out):
            _os.unlink(out)
    base, codec = split_compression(out)
    if fmt == "parquet" and _OUTPUT_FMT[0]:
        # reference precedence: an explicit -f OVERRIDES the output
        # suffix (io.cpp File{filename, format}); the format string may
        # itself carry a compression suffix (e.g. -f osm.gz)
        fsel, fcodec = split_compression("x." + _OUTPUT_FMT[0])
        fmt = fsel[2:]  # strip the "x." stem
        if fcodec:
            codec = fcodec
        base = "x." + fmt  # dispatch below looks at the format suffix
    if base.endswith(".opl") or fmt == "opl":
        from .sources.opl import write_opl

        write_opl(df, out, compression=codec)
    elif base.endswith(".pbf"):
        if codec:
            raise SystemExit(
                f"Unknown file format/suffix: {out} (PBF blobs carry their "
                "own compression; .gz/.bz2 applies to text formats only)"
            )
        from .sinks.pbf import write_osm_pbf

        # write_osm_pbf range-sorts internally; no pre-sort needed
        write_osm_pbf(
            df, out, generator=_GENERATOR[0],
            with_history=base.endswith(".osh.pbf"),
        )
    elif base.endswith(".osc"):
        from .functions.sortkeys import canonical_sort
        from .sinks.osmxml import write_osm_change

        write_osm_change(canonical_sort(df) if sort else df, out,
                         generator=_GENERATOR[0], compression=codec)
    elif base.endswith((".o5m", ".o5c")) or fmt in ("o5m", "o5c"):
        raise SystemExit(
            "Can not write o5m/o5c files (o5m support is read-only, like "
            "the reference — osmium-file-formats.md:48)")
    elif base.endswith((".osm", ".osh", ".xml")) or fmt in ("osm", "xml", "osh"):
        from .functions.sortkeys import canonical_sort
        from .sinks.osmxml import write_osm_xml

        merged = dict(in_opts or {}) if propagate_opts else {}
        for k, v in _OUTPUT_HEADER.items():
            if v is None:  # OPTION! -> copy from input header
                iv = (in_opts or {}).get(k)
                if iv is not None:
                    merged[k] = iv
                else:
                    merged.pop(k, None)
            else:
                merged[k] = v
        write_osm_xml(
            canonical_sort(df) if sort else df, out,
            with_visible=base.endswith(".osh"),
            generator=_GENERATOR[0],
            upload_false=merged.get("xml_josm_upload") == "false",
            boxes=boxes,
            compression=codec,
        )
    elif fmt == "parquet":
        if codec:
            # a compressed suffix on an unrecognized format must error,
            # never silently fall through to a parquet directory
            raise SystemExit(f"Unknown file format/suffix: {out}")
        from .sinks.writer import write_sorted

        # --generator must reach every sink, not just the XML ones
        write_sorted(df, out, header={"generator": _GENERATOR[0], **(header or {})})
    else:  # text formats (export serializations) -> ONE file
        # parallel render + parts concat (codec-aware) in the frame's
        # current order — replaces the old coalesce(1) single-task
        # render that also left a directory instead of a file
        import os
        import shutil
        import tempfile

        from .sinks.textfile import concat_parts, write_parts

        tmp = tempfile.mkdtemp(prefix="osmtext-",
                               dir=os.path.dirname(os.path.abspath(out)) or ".")
        try:
            write_parts(df, os.path.join(tmp, "parts"), codec)
            concat_parts(out, os.path.join(tmp, "parts"), codec)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    _fsync_if_requested(out)


def _fsync_if_requested(out: str) -> None:
    """--fsync: flush the written file to disk (output-options.md)."""
    import os

    if _FSYNC[0] and os.path.isfile(out):
        fd = os.open(out, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


def _timestamp(arg: str) -> int:
    """Epoch-microseconds from either a raw integer or the reference's
    ISO form 2015-01-01T01:00:00Z (osmium-time-filter.md TIME args)."""
    try:
        return int(arg)
    except ValueError:
        import calendar
        import time as _t

        return calendar.timegm(_t.strptime(arg, "%Y-%m-%dT%H:%M:%SZ")) * 1_000_000


def _types(arg: str | None) -> list[int] | None:
    if not arg:
        return None
    return [NAME_TO_TYPE[{"n": "node", "w": "way", "r": "relation"}.get(t, t)] for t in arg.split(",")]


def _parse_extracts(args) -> list:
    import numpy as np

    from .functions.geometry import Extract, parse_geojson, parse_osm_file, parse_poly
    from .schema import fp

    extracts = []
    if args.bbox:
        left, bottom, right, top = (float(x) for x in args.bbox.split(","))
        extracts.append(Extract.bbox(0, left, bottom, right, top))
    elif args.polygon:
        text = open(args.polygon).read()
        if args.polygon.endswith((".json", ".geojson")):
            rings = parse_geojson(text)
        elif args.polygon.endswith((".osm", ".xml")):
            rings = parse_osm_file(text, fmt="xml")
        elif args.polygon.endswith(".opl"):
            rings = parse_osm_file(text, fmt="opl")
        else:
            rings = parse_poly(text)
        extracts.append(Extract.polygon(0, [np.asarray(r) for r in rings]))
    elif args.config:
        import os as _os

        cfg = json.load(open(args.config))
        cfg_dir = _os.path.dirname(_os.path.abspath(args.config))

        def rings_from_file(spec):
            # polygon/multipolygon as "file.poly" or
            # {"file_name": ..., "file_type": ...}, relative paths
            # resolved against the config file's directory
            # (command_extract.cpp:185-277)
            if isinstance(spec, dict):
                fname = spec["file_name"]
                ftype = spec.get("file_type")
            else:
                fname, ftype = spec, None
            if not _os.path.isabs(fname):
                fname = _os.path.join(cfg_dir, fname)
            text = open(fname).read()
            if ftype is None:
                ftype = fname.rsplit(".", 1)[-1]
            if ftype in ("geojson", "json"):
                return parse_geojson(text)
            if ftype in ("osm", "xml"):
                return parse_osm_file(text, fmt="xml")
            if ftype == "opl":
                return parse_osm_file(text, fmt="opl")
            if ftype == "poly":
                return parse_poly(text)
            raise ValueError(f"unknown polygon file type: {ftype}")

        for i, e in enumerate(cfg["extracts"]):
            if "bbox" in e:
                b = e["bbox"]
                if isinstance(b, dict):
                    extracts.append(
                        Extract(i, "bbox", fp(b["left"]), fp(b["bottom"]), fp(b["right"]), fp(b["top"]))
                    )
                else:
                    extracts.append(Extract.bbox(i, *b))
            elif "polygon" in e or "multipolygon" in e:
                spec = e.get("polygon", e.get("multipolygon"))
                if isinstance(spec, list):
                    rings = [
                        np.array([[fp(x), fp(y)] for x, y in ring], dtype="int64")
                        for ring in (spec if isinstance(spec[0][0], (list, tuple)) else [spec])
                    ]
                else:
                    rings = [np.asarray(r) for r in rings_from_file(spec)]
                extracts.append(Extract.polygon(i, rings))
            else:
                raise ValueError(
                    f"extract {i}: need bbox, polygon or multipolygon")
        metas = [
            {
                "output": e.get("output"),
                "output_format": e.get("output_format"),
                "output_header": e.get("output_header") or {},
                "description": e.get("description"),
            }
            for e in cfg["extracts"]
        ]
        directory = args.directory or cfg.get("directory") or cfg_dir
        return extracts, metas, directory
    if not extracts:
        raise SystemExit("extract: need --bbox, --polygon or --config")
    return extracts, None, None


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="osmium_tool_spark")
    p.add_argument("--generator", default="osmium_tool_spark/0.1.0",
                   help="generator string written into output headers")
    p.add_argument("--output-header", action="append", default=[],
                   metavar="KEY=VALUE",
                   help="set an output header option (e.g. xml_josm_upload=false)")
    sub = p.add_subparsers(dest="command", required=True)

    def universal(sp, output=True):
        # common/input/output/progress options every reference command
        # accepts (man/common-options.md, input-options.md,
        # output-options.md, progress-options.md). SUPPRESS keeps any
        # pre-command value; run() getattr()s with module defaults.
        sp.add_argument("-v", "--verbose", action="store_true",
                        default=argparse.SUPPRESS)
        sp.add_argument("--progress", action="store_true",
                        default=argparse.SUPPRESS)  # accepted; bars are a
        sp.add_argument("--no-progress", action="store_true",
                        default=argparse.SUPPRESS)  # TTY affordance only
        sp.add_argument("-F", "--input-format", dest="input_format",
                        default=argparse.SUPPRESS,
                        help="force input format (osm, osm.gz, pbf, opl, "
                             "o5m, ...) when the suffix can't say")
        if output:
            sp.add_argument("-O", "--overwrite", action="store_true",
                            default=argparse.SUPPRESS,
                            help="allow existing output file to be "
                                 "overwritten")
            sp.add_argument("--fsync", action="store_true",
                            default=argparse.SUPPRESS)
        return sp

    def io(sp, n_inputs="+", stdout_ok=True):
        universal(sp)
        sp.add_argument("input", nargs=n_inputs)
        if stdout_ok:
            # reference parity (io.cpp:157-167): -o may be "-" or absent
            # when -f names the format; run() spools to stdout
            sp.add_argument("-o", "--output", default=None)
            sp.add_argument("-f", "--output-format", dest="output_format",
                            default=None,
                            help="output format (osm, osm.gz, opl, pbf, "
                                 "osc, ...); required when writing to "
                                 "STDOUT")
        else:
            sp.add_argument("-o", "--output", required=True)
        # the reference accepts these after the command word too; SUPPRESS
        # keeps the pre-command value when not given (argparse subparser
        # defaults would clobber it otherwise)
        sp.add_argument("--output-header", action="append", dest="output_header",
                        default=argparse.SUPPRESS, metavar="KEY=VALUE")
        sp.add_argument("--generator", dest="generator", default=argparse.SUPPRESS)
        return sp

    sp = io(sub.add_parser("cat", help="concatenate inputs, optional type filter"))
    sp.add_argument("-t", "--object-type", default=None)
    sp.add_argument("--clean", action="append", default=[])
    sp.add_argument("--buffer-data", action="store_true",
                    help="reference compat flag (Spark caches/spills on its own)")

    sp = io(sub.add_parser("sort", help="canonical (type,id,version) sort"))
    sp.add_argument("-s", "--strategy", default="simple", choices=["simple", "multipass"],
                    help="accepted for reference compatibility; Spark's external "
                         "sort subsumes both (spills instead of re-reading)")
    sp = io(sub.add_parser("merge", help="sorted union, identical objects once"))
    sp.add_argument("-H", "--with-history", action="store_true",
                    help="history inputs expected (reference: suppresses the "
                         "multi-version warning; merge semantics unchanged)")
    sp = io(sub.add_parser("merge-changes"))
    sp.add_argument("--simplify", action="store_true")

    sp = universal(sub.add_parser("extract"))
    sp.add_argument("input", nargs=1)
    # -o is optional here: config mode writes each extract's own
    # "output" file (command_extract.cpp:356-401); -o overrides with a
    # single unioned output
    sp.add_argument("-o", "--output", default=None)
    sp.add_argument("--output-header", action="append", dest="output_header",
                    default=argparse.SUPPRESS, metavar="KEY=VALUE")
    sp.add_argument("--generator", dest="generator", default=argparse.SUPPRESS)
    sp.add_argument("-f", "--output-format", dest="output_format",
                    default=None,
                    help="output format for -o (ignored in config mode, "
                         "like the reference: osmium-extract.md OPTIONS)")
    sp.add_argument("-b", "--bbox", default=None, help="LEFT,BOTTOM,RIGHT,TOP degrees")
    sp.add_argument("-p", "--polygon", default=None, help=".poly or .geojson file")
    sp.add_argument("-c", "--config", default=None, help="multi-extract JSON config")
    sp.add_argument("-d", "--directory", default=None,
                    help="output directory for config-mode extracts")
    sp.add_argument("-s", "--strategy", default="complete_ways",
                    choices=["simple", "complete_ways", "smart", "complete_ways_with_history"])
    sp.add_argument("-S", "--option", action="append", default=[],
                    help="strategy options, e.g. relations=false, types=multipolygon")
    sp.add_argument("-H", "--with-history", action="store_true",
                    help="input/outputs are history files (complete_ways only)")
    sp.add_argument("--set-bounds", action="store_true",
                    help="write the extract bbox into the output header bounds")
    sp.add_argument("--clean", action="append", default=[],
                    help="zero out attributes on output (version/changeset/ts/uid/user)")

    sp = io(sub.add_parser("tags-filter"), n_inputs=1)
    sp.add_argument("expressions", nargs="*")
    sp.add_argument("-e", "--expressions", dest="expressions_file", default=None,
                    help="read filter expressions from file ('#' comments)")
    sp.add_argument("-i", "--invert-match", action="store_true")
    sp.add_argument("-R", "--omit-referenced", action="store_true")
    sp.add_argument("-t", "--remove-tags", action="store_true")

    sp = io(sub.add_parser("getid"), n_inputs=1)
    sp.add_argument("ids", nargs="*")
    sp.add_argument("-r", "--add-referenced", action="store_true")
    sp.add_argument("-H", "--with-history", action="store_true",
                    help="history input: emit every version of matched ids; no missing-id exit code")
    sp.add_argument("-i", "--id-file", action="append", default=[],
                    help="read ids from file (one per line, ' '/'#' start comments)")
    sp.add_argument("-I", "--id-osm-file", action="append", default=[],
                    help="take all (type,id) present in an OSM file (.opl or parquet)")
    sp.add_argument("--default-type", default="node",
                    help="type for unprefixed ids (node/way/relation)")
    sp.add_argument("-t", "--remove-tags", action="store_true",
                    help="remove tags from objects not explicitly requested")
    sp.add_argument("--verbose-ids", action="store_true", dest="verbose_ids",
                    help="print requested and missing ids (implies -v; "
                         "command_getid.cpp:118-121,384-388)")

    sp = io(sub.add_parser("removeid"), n_inputs=1)
    sp.add_argument("ids", nargs="*")
    sp.add_argument("-i", "--id-file", action="append", default=[],
                    help="read ids from file (one per line, ' '/'#' start comments)")
    sp.add_argument("-I", "--id-osm-file", action="append", default=[],
                    help="take all (type,id) present in an OSM file (.opl or parquet)")
    sp.add_argument("--default-type", default="node",
                    help="type for unprefixed ids (node/way/relation)")

    sp = io(sub.add_parser("getparents"), n_inputs=1)
    sp.add_argument("ids", nargs="*")
    sp.add_argument("--add-self", action="store_true")
    sp.add_argument("--verbose-ids", action="store_true", dest="verbose_ids",
                    help="print requested ids (implies -v; "
                         "command_getparents.cpp:95-97,150)")
    sp.add_argument("-i", "--id-file", action="append", default=[],
                    help="read ids from file (one per line, ' '/'#' start comments)")
    sp.add_argument("-I", "--id-osm-file", action="append", default=[],
                    help="take all (type,id) present in an OSM file (.opl or parquet)")
    sp.add_argument("--default-type", default="node",
                    help="type for unprefixed ids (node/way/relation)")

    sp = io(sub.add_parser("renumber"), n_inputs=1)
    sp.add_argument("--start-id", default="1,1,1")
    sp.add_argument("--index-dir", "--index-directory", dest="index_dir", default=None,
                    help="persist/reload the id mapping (later batches keep prior assignments)")
    sp.add_argument("-t", "--object-type", default=None,
                    help="renumber only these types, e.g. n or n,w")
    sp.add_argument("--show-index", default=None, metavar="TYPE",
                    help="print the stored id mapping for node/way/relation and exit")

    sp = universal(sub.add_parser("check-refs"), output=False)
    sp.add_argument("input", nargs=1)
    sp.add_argument("-o", "--output", default=None,
                    help="optional parquet dir for the violation rows "
                         "(the reference is a pure checker)")
    sp.add_argument("-r", "--check-relations", action="store_true")
    sp.add_argument("-i", "--show-ids", action="store_true",
                    help="print ids of missing objects")

    sp = universal(sub.add_parser("fileinfo"), output=False)
    sp.add_argument("input", nargs=1)
    sp.add_argument("-j", "--json", action="store_true")
    # reference: CRC default ON for JSON output, OFF otherwise
    # (man/osmium-fileinfo.md:62-67)
    sp.add_argument("-c", "--crc", action="store_true", default=None)
    sp.add_argument("--no-crc", dest="crc", action="store_false")
    sp.add_argument("-e", "--extended", action="store_true",
                    help="read the whole file (always done here; compat flag)")
    sp.add_argument("-g", "--get", default=None, metavar="VARIABLE",
                    help="print one variable (dotted path, e.g. data.count.nodes)")
    sp.add_argument("-G", "--show-variables", action="store_true")
    sp.add_argument("-t", "--object-type", action="append", default=None,
                    help="report only objects of these types")

    sp = io(sub.add_parser("tags-count"), n_inputs=1, stdout_ok=False)
    sp.add_argument("expressions", nargs="*")
    sp.add_argument("-e", "--expressions", dest="expressions_file", default=None,
                    help="read tag expressions from file ('#' comments)")
    sp.add_argument("-m", "--min-count", type=int, default=None)
    sp.add_argument("-M", "--max-count", type=int, default=None)
    sp.add_argument("-s", "--sort", default="count-desc",
                    choices=["count-asc", "count-desc", "name-asc", "name-desc"])
    sp.add_argument("-t", "--object-type", action="append", default=None)

    sp = io(sub.add_parser("time-filter"), n_inputs=1)
    sp.add_argument("time_from", type=_timestamp, nargs="?", default=None)
    sp.add_argument("time_to", type=_timestamp, nargs="?", default=None)

    sp = universal(sub.add_parser("apply-changes"))
    sp.add_argument("input", nargs=1)
    sp.add_argument("changes", nargs="+")
    sp.add_argument("-o", "--output", required=True)
    sp.add_argument("--with-history", action="store_true")
    sp.add_argument("--locations-on-ways", action="store_true")
    sp.add_argument("--redact", action="store_true",
                    help="redact (patch) history: change objects replace "
                         "stored (type,id,version) objects")
    sp.add_argument("--change-file-format", default=None,
                    help="reference compat flag: change-file format is "
                         "autodetected from the suffix here")

    sp = universal(sub.add_parser("derive-changes"))
    sp.add_argument("old")
    sp.add_argument("new")
    sp.add_argument("-o", "--output", required=True)
    sp.add_argument("--increment-version", action="store_true")
    sp.add_argument("--keep-details", action="store_true")
    sp.add_argument("--update-timestamp", action="store_true",
                    help="set timestamp of deleted objects to current time")

    sp = universal(sub.add_parser("diff"))
    sp.add_argument("left")
    sp.add_argument("right")
    sp.add_argument("-o", "--output", default=None)
    sp.add_argument("-f", "--output-format", default="parquet",
                    choices=["parquet", "compact", "opl"])
    sp.add_argument("-s", "--summary", action="store_true",
                    help="print left/right/same/different counts to stderr")
    sp.add_argument("-c", "--suppress-common", action="store_true",
                    help="omit objects that are the same in both inputs")
    sp.add_argument("-q", "--quiet", action="store_true",
                    help="no output, exit code only")
    sp.add_argument("--ignore", action="append", default=[],
                    help="columns excluded from the content compare (e.g. changeset, uid, user, ts)")
    sp.add_argument("--ignore-uid", action="store_true",
                    help="reference flag: uid differences do not count")
    sp.add_argument("--ignore-changeset", action="store_true",
                    help="reference flag: changeset differences do not count")
    sp.add_argument("--ignore-user", action="store_true",
                    help="reference flag: user differences do not count")
    sp.add_argument("-t", "--object-type", action="append", default=None,
                    help="compare only objects of these types")

    sp = io(sub.add_parser("export"), n_inputs=1, stdout_ok=False)
    sp.add_argument("-f", "--output-format", default="geojson",
                    choices=["geojson", "geojsonseq", "pg", "text"])
    sp.add_argument("-n", "--keep-untagged", action="store_true")
    sp.add_argument("-a", "--attributes", default=None,
                    help="comma list of object attributes folded into properties as @keys")
    sp.add_argument("--include-tags", default=None, help="comma list of tag keys to keep (prefix* ok)")
    sp.add_argument("--exclude-tags", default=None, help="comma list of tag keys to drop")
    sp.add_argument("--geometry-types", default=None,
                    help="comma list of point/linestring/polygon/multipolygon to keep")
    sp.add_argument("-E", "--stop-on-error", action="store_true",
                    help="exit 1 on geometry errors (missing nodes, short ways, incomplete relations)")
    sp.add_argument("-e", "--show-errors", action="store_true",
                    help="print geometry errors, keep going")
    sp.add_argument("--index-type", default=None,
                    help="reference compat flag (location joins replace the in-memory index)")
    sp.add_argument("-x", "--format-option", action="append", default=[],
                    help="output format options, e.g. print_record_separator=false")
    sp.add_argument("-c", "--config", dest="export_config", default=None,
                    help="export config JSON: linear_tags/area_tags rulesets, "
                         "attributes, include_tags/exclude_tags")
    sp.add_argument("-u", "--unique-id", "--add-unique-id", dest="unique_id",
                    default=None, choices=["type_id", "counter"],
                    help="feature id mode: type char + id (areas use the 2*id(+1) convention) or a running counter")

    sp = io(sub.add_parser("add-locations-to-ways"), n_inputs=1)
    sp.add_argument("-n", "--keep-untagged-nodes", action="store_true")
    sp.add_argument("-i", "--ignore-missing-nodes", action="store_true")
    sp.add_argument("--keep-member-nodes", action="store_true")
    sp.add_argument("--index-type", "--index-type-neg", dest="index_type",
                    default=None,
                    help="reference compat flag (location joins replace the in-memory index)")

    # short flags per command_changeset_filter.cpp:50-61 — NOTE -b is
    # BEFORE and -B is bbox here, unlike extract's -b
    sp = io(sub.add_parser("changeset-filter"), n_inputs=1, stdout_ok=False)
    sp.add_argument("--open", dest="open_", action="store_true", default=None)
    sp.add_argument("--closed", dest="closed", action="store_true", default=None)
    sp.add_argument("-c", "--with-changes", action="store_true", default=None)
    sp.add_argument("-C", "--without-changes", action="store_true", default=None)
    sp.add_argument("-d", "--with-discussion", dest="with_discussion", action="store_true", default=None)
    sp.add_argument("-D", "--without-discussion", dest="without_discussion", action="store_true", default=None)
    sp.add_argument("-U", "--uid", type=int, default=None)
    sp.add_argument("-u", "--user", default=None)
    sp.add_argument("-a", "--after", default=None,
                    help="ISO yyyy-mm-ddThh:mm:ssZ or epoch-micros")
    sp.add_argument("-b", "--before", default=None,
                    help="ISO yyyy-mm-ddThh:mm:ssZ or epoch-micros")
    sp.add_argument("-B", "--bbox", default=None,
                    help="LEFT,BOTTOM,RIGHT,TOP degrees (or fixed-point ints)")
    sp.add_argument("-f", "--output-format", dest="output_format", default=None,
                    choices=["osm", "xml", "parquet"])

    sp = universal(sub.add_parser("show"), output=False)
    sp.add_argument("input", nargs=1)
    sp.add_argument("-n", "--rows", type=int, default=20)
    # reference surface (man/osmium-show.md): format selection + type
    # filter; output always goes straight to stdout (no pager in a
    # library CLI), so --no-pager is accepted as a no-op
    sp.add_argument("-f", "--output-format", default="opl",
                    choices=["opl", "xml", "debug"])
    sp.add_argument("-o", "--format-opl", dest="output_format",
                    action="store_const", const="opl")
    sp.add_argument("-x", "--format-xml", dest="output_format",
                    action="store_const", const="xml")
    sp.add_argument("-d", "--format-debug", dest="output_format",
                    action="store_const", const="debug")
    sp.add_argument("-t", "--object-type", action="append", default=None,
                    choices=["node", "way", "relation"])
    sp.add_argument("--no-pager", action="store_true")

    sp = universal(sub.add_parser("create-locations-index"), output=False)
    sp.add_argument("input", nargs=1)
    sp.add_argument("-i", "--index-path", "--index-file", dest="index_path",
                    required=True)
    sp.add_argument("-u", "--update", action="store_true",
                    help="update an existing index with this input")

    sp = universal(sub.add_parser("query-locations-index"))
    sp.add_argument("-i", "--index-path", "--index-file", dest="index_path",
                    required=True)
    sp.add_argument("ids", nargs="*")
    sp.add_argument("-n", "--node-id", action="append", default=[],
                    help="node id to look up (same as positional ids)")
    sp.add_argument("--dump", action="store_true",
                    help="dump all locations (default: '<id> <lon> <lat>' "
                         "to stdout; with -o/-f: metadata-less OPL nodes, "
                         "the reference's add_metadata=none dump — "
                         "command_query_locations_index.cpp:85-92,127-150)")
    sp.add_argument("-o", "--output", default=None)
    sp.add_argument("-f", "--output-format", dest="output_format",
                    default=None, choices=["opl", "opl.gz", "opl.bz2"])

    return p


# _write-family commands that accept stdout output (reference rule
# io.cpp:157-167: "-" or missing -o needs -f; the format string names
# the suffix that selects the sink)
_STDOUT_CMDS = ("cat", "sort", "merge", "merge-changes", "tags-filter",
                "getid", "removeid", "getparents", "renumber",
                "time-filter", "add-locations-to-ways")


def _setup_stdout_spool(args) -> str | None:
    """Reference stdout-output parity: `-o -` (or no -o) + `-f FORMAT`
    renders to a spool file named by the format suffix and run() streams
    its BYTES to stdout afterwards; missing -f errors with the
    reference's exact wording (io.cpp:157-167)."""
    if args.command not in _STDOUT_CMDS and not (
        # extract joins the stdout-capable set only in single-output
        # mode; config mode legitimately has no -o (outputs come from
        # the config file)
        args.command == "extract" and getattr(args, "config", None) is None
    ):
        return None
    out = getattr(args, "output", None)
    if out not in (None, "-"):
        return None
    fmt = getattr(args, "output_format", None)
    if not fmt:
        # ValueError -> main() prints it and exits 2 (reference argument
        # errors, main.cpp:46-50)
        if out == "-":
            raise ValueError(
                "When writing to STDOUT you need to use the --output-format/-f\n"
                "option to specify the file format.")
        raise ValueError(
            "Missing output file. Set the output file with --output/-o and/or\n"
            "add the --output-format/-f option to specify the file format.")
    import os as _os
    import tempfile

    sfx = {"xml": "osm"}.get(fmt, fmt)
    spool = _os.path.join(tempfile.mkdtemp(prefix="osmstdout-"), "out." + sfx)
    args.output = spool
    return spool


def run(args, spark: SparkSession) -> int:
    import time as _time

    # universal options (man/common-options.md, input-options.md,
    # output-options.md): every subparser adds them with SUPPRESS, so
    # getattr with the module default is the merge rule
    _T0[0] = _time.monotonic()
    _VERBOSE[0] = bool(getattr(args, "verbose", False)) or bool(
        getattr(args, "verbose_ids", False))
    _INPUT_FMT[0] = getattr(args, "input_format", None)
    _OVERWRITE[0] = bool(getattr(args, "overwrite", False))
    _FSYNC[0] = bool(getattr(args, "fsync", False))
    _vout(f"Started osmium {args.command}")
    # -f overrides the output suffix for the _write-family commands
    # (export/diff/show/changeset-filter interpret -f themselves)
    _OUTPUT_FMT[0] = (getattr(args, "output_format", None)
                      if args.command in _STDOUT_CMDS else None)
    if args.command == "extract" and getattr(args, "config", None) is None:
        # extract -f applies only in single-output mode; config mode
        # ignores -o/-f (osmium-extract.md: "the --output/-o and
        # --output-format/-f options are ignored")
        _OUTPUT_FMT[0] = getattr(args, "output_format", None)
    spool = _setup_stdout_spool(args)
    rc = _run_dispatch(args, spark)
    _vout("Done.")
    if spool is not None:
        import os as _os
        import shutil as _sh

        if _os.path.exists(spool):
            with open(spool, "rb") as f:
                sys.stdout.flush()
                _sh.copyfileobj(f, sys.stdout.buffer)
                sys.stdout.buffer.flush()
        _sh.rmtree(_os.path.dirname(spool), ignore_errors=True)
    return rc


def _run_dispatch(args, spark: SparkSession) -> int:
    _GENERATOR[0] = getattr(args, "generator", _GENERATOR[0])
    _OUTPUT_HEADER.clear()
    for kv in getattr(args, "output_header", []) or []:
        k, _, v = kv.partition("=")
        if not _ and k.endswith("!"):
            # OPTION! = take the value from the input file header
            # (osmium-output-headers.md:11-13)
            _OUTPUT_HEADER[k[:-1]] = None
        else:
            _OUTPUT_HEADER[k] = v
    from . import operators  # noqa: F401

    cmd = args.command
    if cmd == "cat":
        from .operators.sort_merge import cat

        dfs = [_read_one(spark, p) for p in args.input]
        out = cat(dfs, object_types=_types(args.object_type), clean_attrs=args.clean)
        # cat is a streaming concatenation in the reference — XML output
        # preserves input order (golden output-cat21.osm); the parquet/OPL
        # sinks keep their documented sorted order contract
        _write(out, args.output,
               sort=not _osel(args.output).endswith((".osm", ".osh", ".osc")))
    elif cmd == "sort":
        from .operators.sort_merge import sort_entities

        _write(sort_entities(_read(spark, args.input)), args.output,
               boxes=_xml_boxes(args.input))
    elif cmd == "merge":
        from .operators.sort_merge import merge

        _write(merge([_read_one(spark, p) for p in args.input]), args.output)
    elif cmd == "merge-changes":
        from .operators.sort_merge import merge_changes

        _write(
            merge_changes([_read_one(spark, p) for p in args.input], simplify=args.simplify),
            args.output,
        )
    elif cmd == "extract":
        from .operators.extract import extract

        strategy = args.strategy
        if args.with_history:
            # command_extract.cpp:424-439: only complete_ways supports
            # history input
            if strategy in ("simple", "smart"):
                raise ValueError(
                    f"The '{strategy}' strategy is not supported for history files.")
            strategy = "complete_ways_with_history"
        opts = dict(o.split("=", 1) for o in args.option)
        extracts, metas, directory = _parse_extracts(args)
        out = extract(
            _read(spark, args.input),
            extracts,
            strategy=strategy,
            relations=opts.get("relations", "true") != "false",
            # types=any/true/empty -> no type restriction
            # (strategy_smart.cpp:75-78)
            smart_types=(
                ([] if opts["types"] in ("any", "true", "") else opts["types"].split(","))
                if "types" in opts else None
            ),
            # tags=KEY[=VALUE],... (strategy_smart.cpp:88-100)
            smart_tags=opts["tags"].split(",") if "tags" in opts else None,
            complete_partial_relations_pct=(
                int(opts["complete-partial-relations"])
                if "complete-partial-relations" in opts
                else None
            ),
        )

        def clean(df):
            if not args.clean:
                return df
            from .operators.sort_merge import cat

            return cat([df], clean_attrs=args.clean)

        def bounds(ex):
            from .schema import COORD_SCALE

            if args.set_bounds:
                return [[c / COORD_SCALE
                         for c in (ex.minx, ex.miny, ex.maxx, ex.maxy)]]
            return None

        # extract builds a FRESH output header (command_extract.cpp:633-641);
        # input options reach it only via --output-header=OPTION!
        if args.output is not None:
            _write(clean(out.drop("extract_id")), args.output,
                   in_opts=_xml_in_opts(args.input), propagate_opts=False,
                   boxes=bounds(extracts[0]) if len(extracts) == 1 else None)
        elif metas is not None:
            # config mode: each extract writes its own "output" file in
            # one pass over the (cached) assignment
            import os as _os

            from pyspark.sql import functions as F

            out = out.cache()
            try:
                for ex, meta in zip(extracts, metas):
                    if not meta["output"]:
                        raise ValueError(
                            "config extract without an output file needs -o")
                    to_stdout = meta["output"] == "-"
                    if to_stdout:
                        # "output": "-" = stdout (the reference's own
                        # test/extract/config.json); render to a temp
                        # file in the configured format, then stream the
                        # BYTES to stdout (binary-safe for pbf; mkstemp,
                        # not the race-prone mktemp)
                        import tempfile as _tf

                        sfx = "." + (meta["output_format"] or "osm")
                        dst = _os.path.join(_tf.mkdtemp(), "out" + sfx)
                    else:
                        dst = meta["output"]
                        if not _os.path.isabs(dst):
                            dst = _os.path.join(directory, dst)
                    part = clean(
                        out.filter(F.col("extract_id") == ex.extract_id)
                        .drop("extract_id"))
                    saved = dict(_OUTPUT_HEADER)
                    try:
                        for k, v in (meta["output_header"] or {}).items():
                            # JSON null = copy from input header (the
                            # config-file spelling of OPTION!)
                            _OUTPUT_HEADER[k] = None if v is None else str(v)
                        _write(part, dst, fmt=meta["output_format"] or "parquet",
                               in_opts=_xml_in_opts(args.input),
                               propagate_opts=False, boxes=bounds(ex))
                        if to_stdout:
                            import shutil as _sh

                            with open(dst, "rb") as _sf:
                                sys.stdout.flush()
                                _sh.copyfileobj(_sf, sys.stdout.buffer)
                                sys.stdout.buffer.flush()
                            _sh.rmtree(_os.path.dirname(dst),
                                       ignore_errors=True)
                    finally:
                        _OUTPUT_HEADER.clear()
                        _OUTPUT_HEADER.update(saved)
            finally:
                out.unpersist()
        else:
            raise ValueError("extract without --config needs -o/--output")
    elif cmd == "tags-filter":
        from .operators.tags_filter import tags_filter

        exprs = list(args.expressions or [])
        if args.expressions_file:
            # same file rules as tags-count: '#' comments, blank lines
            # skipped, CR trimmed (command_tags_filter.cpp:66-84)
            for line in open(args.expressions_file):
                line = line.split("#", 1)[0].rstrip("\n").rstrip("\r")
                if line:
                    exprs.append(line)
        if not exprs:
            raise ValueError("tags-filter needs at least one expression "
                             "(positional or -e/--expressions file)")
        out = tags_filter(
            _read(spark, args.input),
            exprs,
            invert=args.invert_match,
            omit_referenced=args.omit_referenced,
            remove_tags=args.remove_tags,
        )
        _write(out, args.output, in_opts=_xml_in_opts(args.input))
    elif cmd in ("getid", "removeid", "getparents"):
        from .operators.idops import (
            getid,
            getparents,
            ids_df_from_osm_file,
            ids_to_df,
            merge_id_sets,
            parse_id_list,
            read_id_file,
            removeid,
        )

        # --default-type: type for unprefixed ids
        # (command_getid.cpp:57,108-110)
        from .schema import NAME_TO_TYPE

        dt = NAME_TO_TYPE[
            {"n": "node", "w": "way", "r": "relation"}.get(
                args.default_type, args.default_type)]
        ids = parse_id_list(args.ids, default_type=dt)
        if cmd in ("getid", "removeid"):
            sets = [ids]
            sets += [read_id_file(p, default_type=dt) for p in args.id_file]
            ids = merge_id_sets(*sets)
            # --id-osm-file id sets can be planet-scale: keep them as a
            # DataFrame and semi-join (no driver collect)
            id_sel = ids_to_df(spark, ids)
            for p in args.id_osm_file:
                id_sel = id_sel.unionByName(ids_df_from_osm_file(spark, p))
            if args.id_osm_file:
                id_sel = id_sel.distinct()
            if not any(ids.values()) and (
                not args.id_osm_file or id_sel.isEmpty()
            ):
                print(
                    "Please specify IDs on the command line or with --id-file/--id-osm-file",
                    file=sys.stderr,
                )
                return 2
        if getattr(args, "verbose_ids", False):
            # reference --verbose-ids (command_getid.cpp:180-196 /
            # command_getparents.cpp:150): list the requested ids per
            # type on the verbose channel. Debug flag — the collect is
            # opt-in, mirroring the reference's full-list dump.
            if cmd == "getid":
                by_type: dict = {0: [], 1: [], 2: []}
                for r in id_sel.collect():
                    by_type.setdefault(r["type"], []).append(r["id"])
            else:
                by_type = {t: sorted(v) for t, v in ids.items()}
            _vout("  looking for these ids:")
            for t, name in ((0, "nodes"), (1, "ways"), (2, "relations")):
                _vout(f"    {name}: " + " ".join(
                    str(i) for i in sorted(by_type.get(t, []))))
        ents = _read(spark, args.input)
        in_opts = _xml_in_opts(args.input)
        if cmd == "getid":
            out = getid(ents, id_sel, recursive=args.add_referenced)
            if args.remove_tags:
                # blank tags on objects pulled in only via -r closure
                # (command_getid.cpp:62,112-115)
                from pyspark.sql import functions as F

                if not args.add_referenced:
                    print("Warning! Without -r/--add-referenced use of "
                          "-t/--remove-tags isn't doing anything.",
                          file=sys.stderr)
                else:
                    req = id_sel.withColumn("__req", F.lit(True))
                    out = (
                        out.join(req, on=["type", "id"], how="left")
                        .withColumn(
                            "tags",
                            F.when(F.col("__req").isNotNull(), F.col("tags"))
                            .otherwise(F.expr("map()")),
                        )
                        .drop("__req")
                    )
                    from .functions.sortkeys import canonical_sort

                    out = canonical_sort(out)
            _write(out, args.output, in_opts=in_opts)
            if args.with_history:
                # reference: history mode never reports missing ids
                # (command_getid.cpp:379,396 m_work_with_history)
                return 0
            # reference exit-code parity (command_getid.cpp:396-398): exit 1
            # when ANY requested id was not found, not just when all missing
            missing = id_sel.join(
                out.select("type", "id").distinct(), on=["type", "id"], how="left_anti"
            )
            if getattr(args, "verbose_ids", False):
                # print_missing_ids (command_getid.cpp:384-388): plain
                # stderr lines, one per type with any missing ids
                rows = missing.collect()
                if rows:
                    bt: dict = {}
                    for r in rows:
                        bt.setdefault(r["type"], []).append(r["id"])
                    for t, name in ((0, "node"), (1, "way"), (2, "relation")):
                        if bt.get(t):
                            print(f"Missing {name} IDs: " + " ".join(
                                str(i) for i in sorted(bt[t])), file=sys.stderr)
                    return 1
                return 0
            return 1 if not missing.isEmpty() else 0
        elif cmd == "removeid":
            out = removeid(ents, id_sel)
        else:
            from .operators.idops import ids_from_osm_file

            sets = [ids]
            sets += [read_id_file(p, default_type=dt) for p in args.id_file]
            sets += [ids_from_osm_file(spark, p) for p in args.id_osm_file]
            ids = merge_id_sets(*sets)
            if not any(ids.values()):
                print(
                    "Please specify IDs on the command line or with "
                    "--id-file/--id-osm-file",
                    file=sys.stderr,
                )
                return 2
            out = getparents(ents, ids, add_self=args.add_self)
        _write(out, args.output, in_opts=in_opts)
    elif cmd == "renumber":
        from .operators.idops import renumber
        from .schema import NODE, RELATION, WAY

        # reference get_start_id: 0 means "the default 1"
        # (command_renumber.cpp:139-146)
        s = [int(x) or 1 for x in args.start_id.split(",")]
        s += [s[-1]] * (3 - len(s))
        ents = _read(spark, args.input)
        # the reference's renumber maps ids in stream order behind a
        # CheckOrder pass (renumber-fail-order-* WILL_FAIL tests); our
        # sorted-order mapping equals it ONLY for ordered input, so
        # unordered input is the same fatal error
        from pyspark.sql import functions as F

        from .operators.sort_merge import validate_order

        seq = ents.withColumn("seq", F.monotonically_increasing_id())
        if validate_order(seq).limit(1).count():
            print("renumber: input file is not ordered", file=sys.stderr)
            return 1
        out = renumber(
            ents,
            {NODE: s[0], WAY: s[1], RELATION: s[2]},
            index_dir=args.index_dir,
            object_types=_types(args.object_type),
        )
        # renumber COPIES the input header (command_renumber.cpp reader
        # header passthrough) — unlike apply-changes, whose goldens drop
        # the upload hint
        if _osel(args.output).endswith((".osm", ".osh")) and args.input[0].endswith(
            (".osm", ".osh", ".xml")
        ):
            from .functions.sortkeys import canonical_sort
            from .sinks.osmxml import write_osm_xml
            from .sinks.textfile import split_compression
            from .sources.osmxml import read_osm_xml_header

            opts = read_osm_xml_header(args.input[0])["header"]["option"]
            write_osm_xml(
                canonical_sort(out), args.output,
                with_visible=_obase(args.output).endswith(".osh"),
                generator=_GENERATOR[0],
                upload_false=opts.get("xml_josm_upload") == "false",
                compression=(split_compression("x." + _OUTPUT_FMT[0])[1]
                             if _OUTPUT_FMT[0]
                             else split_compression(args.output)[1]),
            )
        else:
            _write(out, args.output)
    elif cmd == "check-refs":
        from pyspark.sql import functions as F

        from .operators.idops import check_refs
        from .operators.sort_merge import validate_order

        ents = _read(spark, args.input)
        # the reference runs CheckOrder on every object
        # (command_check_refs.cpp:188,200,223) — out-of-order input is a
        # fatal error before any ref counting
        seq = ents.withColumn("seq", F.monotonically_increasing_id())
        if validate_order(seq).limit(1).count():
            print("check-refs: input file is not ordered", file=sys.stderr)
            return 2
        out = check_refs(ents, check_relations=args.check_relations)
        n = out.count()
        if args.show_ids and n:
            # one line per missing object, like the RefCheckHandler's
            # show_ids output (command_check_refs.cpp:132-170)
            tn = {0: "n", 1: "w", 2: "r"}
            for r in out.orderBy("src_type", "src_id", "ref_id").collect():
                print(f"{tn.get(r['ref_type'], '?')}{r['ref_id']} "
                      f"in {tn.get(r['src_type'], '?')}{r['src_id']}")
        if args.output:
            _check_overwrite(args.output)
            out.write.mode("overwrite").parquet(args.output)
        return 1 if n else 0  # reference exit code semantics
    elif cmd == "fileinfo":
        from .operators.aggregates import (
            fileinfo,
            fileinfo_report,
            fileinfo_text,
            flatten_report,
        )

        if args.get and args.json:
            print("fileinfo: --get cannot be used with --json", file=sys.stderr)
            return 2
        ents = _read(spark, args.input)
        if args.object_type:
            # -t restricts every reported count/CRC to the given types
            # (command_fileinfo.cpp:671,699)
            ft = _types(",".join(args.object_type))
            if ft is not None:
                ents = ents.filter(ents["type"].isin(ft))
        if args.get or args.show_variables:
            from pyspark.sql import functions as SF

            data = fileinfo_report(
                ents.withColumn("__seq", SF.monotonically_increasing_id()),
                seq_col="__seq", with_crc=bool(args.crc),
            )
            flat = flatten_report({"data": data})
            if args.show_variables:
                for k in sorted(flat):
                    print(k)
            else:
                if args.get not in flat:
                    print(f"fileinfo: unknown variable {args.get!r}", file=sys.stderr)
                    return 2
                print(flat[args.get])
        elif args.json:
            # reference-shaped report (command_fileinfo.cpp:335-445)
            from pyspark.sql import functions as SF

            data = fileinfo_report(
                ents.withColumn("__seq", SF.monotonically_increasing_id()),
                seq_col="__seq",
                with_crc=args.crc is not False,  # JSON default: CRC on
            )
            report = {"data": data}
            src = args.input[0]
            base = src
            for suf in (".gz", ".bz2"):
                if base.endswith(suf):
                    base = base[: -len(suf)]
            if base.endswith((".osm", ".osh", ".osc")):
                from .sources.osmxml import read_osm_xml_header

                report = {**read_osm_xml_header(src), "data": data}
            print(json.dumps(report, indent=4))
        else:
            # reference text format (fi1-result.txt Data/Metadata sections)
            from pyspark.sql import functions as SF

            data = fileinfo_report(
                ents.withColumn("__seq", SF.monotonically_increasing_id()),
                seq_col="__seq", with_crc=bool(args.crc),
            )
            print(fileinfo_text(data))
    elif cmd == "tags-count":
        from .operators.aggregates import tags_count

        exprs = list(args.expressions or [])
        if args.expressions_file:
            # '#' starts a comment, blank lines skipped, CR trimmed
            # (command_tags_count.cpp:52-70)
            for line in open(args.expressions_file):
                line = line.split("#", 1)[0].rstrip("\r\n")
                if line:
                    exprs.append(line)
        ents = _read(spark, args.input)
        if args.object_type:
            types = _types(",".join(args.object_type))
            if types is not None:
                ents = ents.filter(ents["type"].isin(types))
        out = tags_count(
            ents,
            expressions=exprs or None,
            count_values=any("=" in e for e in exprs),
            min_count=args.min_count,
            max_count=args.max_count,
            sort_order=args.sort,
        )
        _check_overwrite(args.output)
        out.write.mode("overwrite").parquet(args.output)
    elif cmd == "time-filter":
        import time as _t

        from .operators.changes import replication_header, time_filter
        from .sinks.writer import read_header

        if args.time_from is None:
            # no TIME argument = snapshot at now (osmium-time-filter.md)
            args.time_from = int(_t.time()) * 1_000_000
        try:
            in_hdr = read_header(args.input[0])
        except (OSError, ValueError):
            in_hdr = {}
        hdr = replication_header(in_hdr, args.time_from, args.time_to)
        _write(
            time_filter(_read(spark, args.input), args.time_from, args.time_to),
            args.output,
            header=hdr or None,
            in_opts=_xml_in_opts(args.input),
        )
    elif cmd == "apply-changes":
        from .operators.changes import apply_changes

        # the reference reads history mode from the input/output file
        # formats when --with-history is not given
        # (command_apply_changes.cpp: history flag of the file header)
        def is_history(p: str) -> bool:
            for suf in (".gz", ".bz2"):
                if p.endswith(suf):
                    p = p[: -len(suf)]
            return p.endswith(".osh")

        with_history = (
            args.with_history
            or is_history(args.input[0])
            or is_history(args.output)
        )
        out = apply_changes(
            _read_one(spark, args.input[0]),
            [_read_one(spark, p) for p in args.changes],
            with_history=with_history,
            locations_on_ways=args.locations_on_ways,
            redact=args.redact,
        )
        _write(out, args.output)
    elif cmd == "derive-changes":
        from .operators.changes import derive_changes

        import time as _t

        out = derive_changes(
            _read_one(spark, args.old),
            _read_one(spark, args.new),
            increment_version=args.increment_version,
            keep_details=args.keep_details,
            update_timestamp=(
                int(_t.time()) * 1_000_000 if args.update_timestamp else None
            ),
        )
        _write(out.drop("change_op"), args.output)
    elif cmd == "diff":
        from .operators.changes import diff, diff_compact, diff_summary

        if args.quiet and (args.output or args.suppress_common):
            raise SystemExit("diff: do not use --quiet with output options")
        ignore = set(args.ignore) | ({"uid"} if args.ignore_uid else set()) \
            | ({"changeset"} if args.ignore_changeset else set()) \
            | ({"user"} if args.ignore_user else set())
        ldf, rdf = _read_one(spark, args.left), _read_one(spark, args.right)
        if args.object_type:
            types = _types(",".join(args.object_type))
            if types is not None:
                ldf = ldf.filter(ldf["type"].isin(types))
                rdf = rdf.filter(rdf["type"].isin(types))
        out = diff(ldf, rdf, ignore=ignore)
        counts = diff_summary(out).collect()[0]
        # output-metadata quirk (command_diff.cpp:149-157): the OPL line
        # drops i for --ignore-uid, and BOTH c and u for
        # --ignore-changeset; --ignore-user affects only the comparison
        omit = set()
        if "uid" in ignore:
            omit.add("uid")
        if "changeset" in ignore:
            omit.update({"changeset", "user"})
        if not args.quiet:
            if args.output is not None:
                _check_overwrite(args.output)
            if args.output_format == "opl" and args.output is not None:
                # marked-OPL to a single file (the reference writes the
                # selected format to -o; previously this silently wrote
                # parquet) — rendered JVM-side, parts + driver concat
                import os
                import shutil
                import tempfile

                from pyspark.sql import functions as F

                from .operators.changes import diff_marked
                from .sinks.textfile import (concat_parts, split_compression,
                                             write_parts)
                from .sources.opl import opl_line_col

                codec = split_compression(args.output)[1]
                marked = diff_marked(ldf, rdf, ignore=ignore,
                                     suppress_common=args.suppress_common)
                value = F.concat(F.col("mark"),
                                 opl_line_col(omit=frozenset(omit)))
                tmp = tempfile.mkdtemp(
                    prefix="osmdiff-",
                    dir=os.path.dirname(os.path.abspath(args.output)) or ".")
                try:
                    write_parts(marked.select(value.alias("value")),
                                os.path.join(tmp, "parts"), codec)
                    concat_parts(args.output, os.path.join(tmp, "parts"), codec)
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
            elif args.output is None and args.output_format == "opl":
                # stdout marked-OPL (diff -f opl; byte parity vs test/diff)
                from .operators.changes import diff_marked
                from .sinks.osmxml import _entries_iter
                from .sources.opl import _make_serializer

                ser = _make_serializer(omit=frozenset(omit))
                for row in _entries_iter(
                    diff_marked(ldf, rdf, ignore=ignore,
                                suppress_common=args.suppress_common)
                ):
                    mark = row.pop("mark")
                    print(mark + ser(row))
            elif args.output is None:
                # stdout compact (the reference default when no -o given)
                for r in diff_compact(out, suppress_common=args.suppress_common).collect():
                    print(r["line"])
            elif args.output_format == "compact":
                diff_compact(out, suppress_common=args.suppress_common).coalesce(
                    1
                ).write.mode("overwrite").text(args.output)
            else:
                d = out.filter("status <> 'same'") if args.suppress_common else out
                d.write.mode("overwrite").parquet(args.output)
        if args.summary:
            print(
                f"Summary: left={counts['left']} right={counts['right']} "
                f"same={counts['same']} different={counts['different']}",
                file=sys.stderr,
            )
        ndiff = counts["left"] + counts["right"] + counts["different"]
        return 1 if ndiff else 0
    elif cmd == "export":
        from .operators.export import (
            features,
            filter_geometry_types,
            filter_tags,
            to_geojsonseq,
            to_pg,
            to_text,
            with_attributes,
            write_geojson,
        )

        ents = _read(spark, args.input)
        if args.stop_on_error or args.show_errors:
            from .operators.export import export_errors

            errs = export_errors(ents).collect()
            if errs and args.show_errors:
                # -e prints every error and keeps going
                # (command_export.cpp:269)
                for e in errs:
                    print(f"export error: {e.reason} ({'nwr'[e.type]}{e.id})")
            if errs and args.stop_on_error:
                for e in errs[:20]:
                    print(f"export error: {e.reason} ({'nwr'[e.type]}{e.id})", file=sys.stderr)
                return 1
        cfg = {}
        if args.export_config:
            cfg = json.load(open(args.export_config))
        gfmt = "wkt" if args.output_format == "text" else "geojson"
        f = features(
            ents,
            keep_untagged=args.keep_untagged,
            linear_tags=cfg.get("linear_tags", None),
            area_tags=cfg.get("area_tags", None),
            geometry_format=gfmt,
        )
        if args.geometry_types:
            f = filter_geometry_types(f, args.geometry_types.split(","))
        f = filter_tags(
            f,
            include_tags=(
                args.include_tags.split(",") if args.include_tags
                else (cfg.get("include_tags") or None)
            ),
            exclude_tags=(
                args.exclude_tags.split(",") if args.exclude_tags
                else (cfg.get("exclude_tags") or None)
            ),
        )
        cfg_attrs = [k for k, v in (cfg.get("attributes") or {}).items() if v]
        if cfg_attrs and not args.attributes:
            args.attributes = ",".join(cfg_attrs)
        props_col = None
        if args.attributes:
            if args.output_format in ("geojson", "geojsonseq"):
                # byte parity: attributes as JSON NUMBERS in properties
                from .operators.export import attributes_props_json

                f = attributes_props_json(f, ents, args.attributes.split(","))
                props_col = "props"
            else:
                f = with_attributes(f, ents, args.attributes.split(","))
        # the attribute-props join can scramble feature order; restore the
        # canonical (type, id, point<linestring<polygon) output order the
        # goldens are written in
        from pyspark.sql import functions as SF

        frank = (
            SF.when(SF.col("ftype") == "point", 0)
            .when(SF.col("ftype") == "linestring", 1)
            .when(SF.col("ftype") == "polygon", 2)
            .otherwise(3)
        )
        # areas come LAST: the reference's area assembler is a second
        # pass, so polygon/multipolygon features follow all points and
        # linestrings (way-all.txt: every LINESTRING before any
        # MULTIPOLYGON); within each class, canonical (type, id) order
        # (relation-area completion order is assembler-internal — the
        # one place our order may differ, see TestExportCliGoldens)
        is_area = (frank >= 2).cast("int")
        f = f.orderBy(is_area, "type", "id", frank)
        # reference default emits NO id member; ids appear only with -u
        # (test/export/output.geojson vs output-uid.geojsonseq)
        wid = args.unique_id is not None
        if args.output_format == "geojson":
            _check_overwrite(args.output)
            write_geojson(f, args.output, with_id=wid, props_col=props_col,
                          unique_id=args.unique_id)
        else:
            if args.output_format == "geojsonseq":
                # reference default: RFC 7464 RS-framed records; -x
                # print_record_separator=false turns it off
                fmt_opts = dict(
                    kv.split("=", 1) for kv in args.format_option if "=" in kv
                )
                rs = fmt_opts.get("print_record_separator", "true") != "false"
                out = to_geojsonseq(f, with_id=wid, props_col=props_col,
                                    unique_id=args.unique_id,
                                    record_separator=rs)
            elif args.output_format == "text":
                out = to_text(f, keep_untagged=args.keep_untagged)
            else:
                out = to_pg(f)
            _write(out, args.output, fmt="text")
    elif cmd == "add-locations-to-ways":
        from .operators.locations import add_locations_to_ways

        from pyspark.sql import functions as F

        ents = _read(spark, args.input)
        xml_out = _osel(args.output).endswith((".osm", ".osh"))
        if xml_out:
            # the reference streams: output preserves input order
            # (golden output-n.osm keeps the trailing negative-id node
            # last) — stamp document order and restore it after the join
            ents = ents.withColumn("__seq", F.monotonically_increasing_id())
        out = add_locations_to_ways(
            ents,
            ignore_missing_nodes=args.ignore_missing_nodes,
            keep_untagged_nodes=args.keep_untagged_nodes,
            keep_member_nodes=args.keep_member_nodes,
        ).drop("missing_locations")
        if xml_out:
            _write(out.orderBy("__seq").drop("__seq"), args.output, sort=False)
        else:
            _write(out, args.output)
    elif cmd == "changeset-filter":
        from .operators.changesets import changeset_filter

        def cs_time(v):
            # ISO like the reference (command_changeset_filter.cpp:125-141)
            # or epoch-micros for programmatic use
            if v is None:
                return None
            try:
                return int(v)
            except ValueError:
                import calendar as _cal
                import time as _t

                return _cal.timegm(_t.strptime(v, "%Y-%m-%dT%H:%M:%SZ")) * 1_000_000

        def cs_bbox(v):
            # degrees (reference parse_bbox) scaled to fixed-point; values
            # beyond any valid degree are taken as already-scaled ints
            if v is None:
                return None
            from .schema import COORD_SCALE

            parts = [float(x) for x in v.split(",")]
            if len(parts) != 4:
                raise ValueError("--bbox needs LEFT,BOTTOM,RIGHT,TOP")
            if all(abs(p) <= 360 for p in parts):
                return tuple(int(round(p * COORD_SCALE)) for p in parts)
            return tuple(int(p) for p in parts)

        open_ = True if args.open_ else (False if args.closed else None)
        changes = True if args.with_changes else (
            False if args.without_changes else None)
        discussion = True if args.with_discussion else (
            False if args.without_discussion else None)
        src = args.input[0]
        if src.endswith((".osm", ".xml", ".osm.gz", ".osm.bz2")):
            from .sources.osmxml import read_changesets_xml

            cs = read_changesets_xml(spark, src)
        else:
            cs = _read(spark, args.input)
        out = changeset_filter(
            cs,
            open_=open_,
            with_changes=changes,
            with_discussion=discussion,
            uid=args.uid,
            user=args.user,
            after=cs_time(args.after),
            before=cs_time(args.before),
            bbox=cs_bbox(args.bbox),
        )
        if args.output_format in ("osm", "xml") or _obase(args.output).endswith(".osm"):
            from .sinks.osmxml import write_changesets_xml
            from .sinks.textfile import split_compression

            _check_overwrite(args.output)
            write_changesets_xml(out, args.output, generator=_GENERATOR[0],
                                 compression=split_compression(args.output)[1])
        else:
            out.write.mode("overwrite").parquet(args.output)
    elif cmd == "show":
        from .functions.sortkeys import canonical_sort
        from .schema import NAME_TO_TYPE

        df = _read_one(spark, args.input[0])
        if args.object_type:
            types = [NAME_TO_TYPE[t] for t in args.object_type]
            df = df.filter(df["type"].isin(types))
        df = canonical_sort(df).limit(args.rows)
        # input header (generator / upload hint) flows through like the
        # reference's show, which reprints the source header
        src = args.input[0]
        opts = {"generator": _GENERATOR[0], "version": "0.6"}
        if src.endswith((".osm", ".osh", ".osc", ".gz", ".bz2")):
            from .sources.osmxml import read_osm_xml_header

            opts = read_osm_xml_header(src)["header"]["option"] or opts
        def page_or_print(text: str) -> None:
            # reference parity (command_show.cpp:50-66 + run): output
            # pipes through $OSMIUM_PAGER / $PAGER (default less);
            # 'cat' or --no-pager disables. Off-tty (tests, pipes) we
            # print directly — byte-identical, since less degrades to
            # cat when stdout is not a terminal.
            import os as _pos
            import subprocess

            pager = (_pos.environ.get("OSMIUM_PAGER")
                     or _pos.environ.get("PAGER") or "less")
            if (getattr(args, "no_pager", False) or pager == "cat"
                    or not sys.stdout.isatty()):
                sys.stdout.write(text)
                return
            subprocess.run(pager, input=text.encode(), shell=True)

        if args.output_format == "xml":
            import tempfile

            from .sinks.osmxml import write_osm_xml

            with tempfile.NamedTemporaryFile(suffix=".osm", mode="r") as tmp:
                write_osm_xml(
                    df, tmp.name,
                    generator=opts.get("generator", _GENERATOR[0]),
                    upload_false=opts.get("xml_josm_upload") == "false",
                )
                page_or_print(open(tmp.name).read())
        elif args.output_format == "debug":
            from pyspark.sql import functions as SF

            from .sinks.debugfmt import to_debug_text
            from .sinks.osmxml import _entries_iter

            agg = df.agg(
                SF.count("*").alias("n"),
                SF.count_distinct("type", "id").alias("d"),
            ).collect()[0]
            page_or_print(
                to_debug_text(
                    list(_entries_iter(df)), opts,
                    multiple_versions=agg["n"] != agg["d"],
                )
            )
        else:
            from .sources.opl import _make_serializer

            ser = _make_serializer()
            lines = [ser(r.asDict(recursive=True)) for r in df.collect()]
            page_or_print("".join(ln + "\n" for ln in lines))
    elif cmd == "create-locations-index":
        from .operators.locations import create_locations_index

        ents = _read(spark, args.input)
        if args.update:
            # --update merges the new nodes over the existing index
            # (command_create_locations_index.cpp update mode): new
            # locations win per id
            import os as _os

            from pyspark.sql import functions as F

            if _os.path.exists(args.index_path):
                from .schema import NODE

                old = spark.read.parquet(args.index_path)
                new = ents.filter(F.col("type") == NODE).select("id", "lon", "lat")
                merged = old.join(new.select("id"), on="id", how="left_anti") \
                    .unionByName(new)
                # re-derive an entity-shaped frame for the writer
                merged = merged.withColumn("type", F.lit(NODE))
                # write to a temp then swap (same dir read+write is unsafe)
                tmp = args.index_path + ".tmp"
                create_locations_index(merged, tmp)
                import shutil as _sh

                _sh.rmtree(args.index_path)
                _os.rename(tmp, args.index_path)
                return 0
        create_locations_index(ents, args.index_path)
    elif cmd == "query-locations-index":
        from pyspark.sql import functions as F

        from .operators.locations import query_locations_index

        ids = [int(i) for i in (list(args.ids) + list(args.node_id))] or None
        if args.dump:
            ids = None
        out = query_locations_index(spark, args.index_path, ids)
        if args.dump and (args.output or args.output_format):
            # reference dump surface: OSM file via the writer, default
            # OPL with add_metadata=none → "n<id> T x<lon> y<lat>"
            # (command_query_locations_index.cpp:85-92,127-150)
            from .sinks.osmxml import _coord_col
            from .sinks.textfile import (concat_parts, split_compression,
                                         write_parts)

            line = F.concat(
                F.lit("n"), F.col("id").cast("string"), F.lit(" T x"),
                _coord_col(F.col("lon")), F.lit(" y"),
                _coord_col(F.col("lat"))).alias("value")
            import os as _os
            import shutil as _sh
            import tempfile as _tf

            to_stdout = args.output in (None, "-")
            if to_stdout:
                dst = _os.path.join(_tf.mkdtemp(prefix="osmqli-"), "out.opl")
            else:
                _check_overwrite(args.output)
                dst = args.output
            codec = (split_compression("x." + args.output_format)[1]
                     if args.output_format
                     else split_compression(dst)[1])
            tmp = _tf.mkdtemp(prefix="osmqli-", dir=_os.path.dirname(
                _os.path.abspath(dst)) or ".")
            try:
                write_parts(out.select(line), _os.path.join(tmp, "parts"),
                            codec)
                concat_parts(dst, _os.path.join(tmp, "parts"), codec)
            finally:
                _sh.rmtree(tmp, ignore_errors=True)
            if to_stdout:
                with open(dst, "rb") as _sf:
                    sys.stdout.flush()
                    _sh.copyfileobj(_sf, sys.stdout.buffer)
                    sys.stdout.buffer.flush()
                _sh.rmtree(_os.path.dirname(dst), ignore_errors=True)
            else:
                _fsync_if_requested(dst)
        else:
            for r in out.collect():
                print(f"{r.id} {r.lon} {r.lat}")
    else:  # pragma: no cover
        raise SystemExit(f"unknown command {cmd}")
    return 0


_HELP_DESCRIPTIONS = [
    ("add-locations-to-ways", "Add node locations to ways"),
    ("apply-changes", "Apply OSM change files to OSM data file"),
    ("cat", "Concatenate OSM files and convert to different formats"),
    ("changeset-filter", "Filter OSM changesets by different criteria"),
    ("check-refs", "Check referential integrity of an OSM file"),
    ("create-locations-index", "Create node locations index on disk"),
    ("derive-changes", "Create OSM change files from two OSM data files"),
    ("diff", "Display differences between OSM files"),
    ("export", "Export OSM data"),
    ("extract", "Create geographical extracts"),
    ("fileinfo", "Show information about OSM file"),
    ("getid", "Get objects with given ID from OSM file"),
    ("getparents", "Get parents of objects from OSM file"),
    ("help", "Show osmium help"),
    ("merge", "Merge several sorted OSM files into one"),
    ("merge-changes", "Merge several OSM change files into one"),
    ("query-locations-index", "Query node locations index on disk"),
    ("removeid", "Remove objects with given IDs from OSM file"),
    ("renumber", "Renumber IDs in OSM file"),
    ("show", "Show OSM file contents"),
    ("sort", "Sort OSM data files"),
    ("tags-count", "Count OSM tags"),
    ("tags-filter", "Filter OSM data based on tags"),
    ("time-filter", "Filter OSM data from a point in time or a time span"),
    ("version", "Show version"),
]


def _top_help() -> str:
    """Top-level help in the reference's shape (main.cpp / help1-4
    golden regex '^Usage: .*COMMANDS:')."""
    lines = ["Usage: osmium_tool_spark COMMAND [ARG...]",
             "       osmium_tool_spark --version", "", "COMMANDS:"]
    width = max(len(n) for n, _ in _HELP_DESCRIPTIONS) + 2
    lines += [f"  {n:<{width}}{d}" for n, d in _HELP_DESCRIPTIONS]
    lines += ["", "TOPICS:", "  file-formats     File formats", "",
              "Use 'osmium_tool_spark help COMMAND' for detailed help on a command."]
    return "\n".join(lines) + "\n"


def _dispatch_toplevel(argv: list[str]) -> int | None:
    """The reference's pre-command dispatch (src/main.cpp:71-113): no
    args / -h / --help / help -> usage text, --version / version ->
    version block, unknown command -> fatal (exit 2) with the canonical
    message. Returns None when a real command should proceed."""
    known = {n for n, _ in _HELP_DESCRIPTIONS}
    if not argv:
        print(_top_help(), end="")
        return 0
    head = argv[0]
    if head in ("-h", "--help", "help"):
        topic = argv[1] if len(argv) > 1 else None
        if topic is None:
            print(_top_help(), end="")
            return 0
        if topic in known and topic not in ("help", "version"):
            try:
                build_parser().parse_args([topic, "-h"])
            except SystemExit:
                pass
            return 0
        print(f"Unknown help topic '{topic}'.", file=sys.stderr)
        return 2
    if head in ("--version", "version"):
        import pyspark

        print("osmium_tool_spark version 0.1.0")
        print(f"pyspark version {pyspark.__version__}")
        print("Supported PBF compression types: none zlib lzma bzip2")
        return 0
    if head == "export" and ("-C" in argv or "--print-default-config" in argv):
        # byte-for-byte the reference's default config
        # (command_export.cpp:296-316)
        print("""{
    "attributes": {
        "type":      false,
        "id":        false,
        "version":   false,
        "changeset": false,
        "timestamp": false,
        "uid":       false,
        "user":      false,
        "way_nodes": false
    },
    "format_options": {
    },
    "linear_tags":  true,
    "area_tags":    true,
    "exclude_tags": [],
    "include_tags": []
}""")
        return 0
    if head in ("export", "add-locations-to-ways", "create-locations-index",
                "renumber") and ("-I" in argv or "--show-index-types" in argv):
        # this engine's available location-index layouts (the reference
        # lists libosmium map types here)
        print("parquet_range")
        print("none")
        return 0
    if head.startswith("-") or head in known:
        return None  # global flags / real command: argparse takes over
    print(f"Unknown command or option '{head}'. "
          "Try 'osmium_tool_spark help'.", file=sys.stderr)
    return 2


def _renumber_show_index(argv: list[str], spark: SparkSession | None) -> int:
    """`renumber --show-index=TYPE --index-dir=DIR` prints the stored
    old->new mapping and exits, no input/output needed
    (command_renumber.cpp:165-188,218-220)."""
    def flagval(names):
        for i, a in enumerate(argv):
            for n in names:
                if a == n and i + 1 < len(argv):
                    return argv[i + 1]
                if a.startswith(n + "="):
                    return a.split("=", 1)[1]
        return None

    tname = flagval(["--show-index"])
    if tname not in ("node", "way", "relation"):
        print("Invalid value for --show-index option. "
              "Allowed are 'node', 'way', or 'relation'", file=sys.stderr)
        return 2
    idx_dir = flagval(["--index-dir", "--index-directory"])
    if not idx_dir:
        print("renumber --show-index needs --index-dir", file=sys.stderr)
        return 2
    own = spark is None
    if own:
        from .session import get_spark

        spark = get_spark("osmium-renumber")
    try:
        t = NAME_TO_TYPE[tname]
        for r in (
            spark.read.parquet(idx_dir)
            .filter(f"type = {t}")
            .orderBy("id")
            .collect()
        ):
            print(f"{r['id']} -> {r['new_id']}")
        return 0
    finally:
        if own:
            spark.stop()


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    rc = _dispatch_toplevel(argv)
    if rc is not None:
        return rc
    if argv and argv[0] == "renumber" and any(
        a == "--show-index" or a.startswith("--show-index=") for a in argv
    ):
        return _renumber_show_index(argv, spark)
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from .session import get_spark

        spark = get_spark(f"osmium-{args.command}")
    try:
        return run(args, spark)
    except SystemExit:
        raise
    except Exception as e:  # reference: errors -> exit 2 (main.cpp:46-50)
        print(f"osmium_tool_spark {args.command}: {e}", file=sys.stderr)
        return 2
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
