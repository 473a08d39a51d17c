"""OSM XML reader: .osm (data), .osh (history), .osc (change) files.

Reference format: man/osmium-file-formats.md:42-66; the XML shapes are
the reference's own test fixtures (test/sort/*.osm, test/time-filter/
input.osh, test/sort/input-change.osc). Change files wrap objects in
<create>/<modify>/<delete> sections — <delete> implies visible=false
unless an explicit visible attribute overrides (osmChange semantics).

Small files parse on the DRIVER (XML is the reference's interchange
format for config/fixture-scale data). Plain .osm/.osh files at or
above `distributed_min_bytes` (default 64 MB) switch to a DISTRIBUTED
split-read: the driver seeks to ~split-sized offsets and snaps each to
the next top-level element start (`<node`/`<way`/`<relation` cannot
appear inside attribute values — `<` is always escaped as &lt; — so
these byte patterns only occur at element starts), then executors parse
their byte ranges independently — the same splittable-input shape as
sources/pbf.py. Compressed (.gz/.bz2, not seekable) and change-file
(.osc, rows depend on enclosing <create/modify/delete> sections)
inputs above the threshold raise a clear guard pointing at the
splittable formats (PBF/OPL/parquet).

`read_osm_xml` returns the canonical ENTITY_SCHEMA frame (ts in epoch
micros, coords fixed-point 1e-7 degrees) so every operator and the CLI
consume XML inputs transparently.
"""

from __future__ import annotations

import calendar
import sys
import time as _time
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from ..schema import COORD_SCALE, ENTITY_SCHEMA, NAME_TO_TYPE

_CHANGE_SECTIONS = ("create", "modify", "delete")


def _read_text(path: str) -> str:
    """Read XML text with gzip/bz2 autodetect by suffix (the reference
    supports .osm.gz/.osm.bz2 transparently, io.cpp:39-61)."""
    if path.endswith(".gz"):
        import gzip

        return gzip.open(path, "rt", encoding="utf-8").read()
    if path.endswith(".bz2"):
        import bz2

        return bz2.open(path, "rt", encoding="utf-8").read()
    with open(path) as f:
        return f.read()


def _parse_ts(v: str | None) -> int | None:
    if not v:
        return None
    return calendar.timegm(_time.strptime(v, "%Y-%m-%dT%H:%M:%SZ")) * 1_000_000


def _parse_object(el: ET.Element, in_delete: bool = False) -> dict | None:
    """One <node>/<way>/<relation> element -> entity row dict (None for
    other elements). Tags are a (key, value) entries list in document
    order; a repeated key keeps its last value."""
    t = NAME_TO_TYPE.get(el.tag)
    if t is None:
        return None
    vis_attr = el.get("visible")
    visible = (vis_attr != "false") if vis_attr is not None else not in_delete
    row = {
        "type": t,
        "id": int(el.get("id")),
        "version": int(el.get("version")) if el.get("version") else None,
        "visible": visible,
        "changeset": int(el.get("changeset")) if el.get("changeset") else None,
        "ts": _parse_ts(el.get("timestamp")),
        "uid": int(el.get("uid")) if el.get("uid") else None,
        "user": el.get("user"),
        "tags": list({c.get("k"): c.get("v") for c in el if c.tag == "tag"}.items()),
        "lon": None,
        "lat": None,
        "refs": None,
        "members": None,
    }
    if el.tag == "node":
        if el.get("lon") is not None:
            row["lon"] = int(round(float(el.get("lon")) * COORD_SCALE))
            row["lat"] = int(round(float(el.get("lat")) * COORD_SCALE))
    elif el.tag == "way":
        row["refs"] = [int(c.get("ref")) for c in el if c.tag == "nd"]
    else:
        row["members"] = [
            {
                "mtype": NAME_TO_TYPE[c.get("type")],
                "ref": int(c.get("ref")),
                "role": c.get("role") or "",
            }
            for c in el
            if c.tag == "member"
        ]
    return row


def parse_osm_xml(text: str) -> list[dict]:
    """XML text -> entity row dicts, preserving document order (the
    reference's stream order — order-validation tests depend on it)."""
    root = ET.fromstring(text)
    rows: list[dict] = []
    if root.tag == "osmChange":
        for sec in root:
            if sec.tag not in _CHANGE_SECTIONS:
                continue
            for el in sec:
                row = _parse_object(el, in_delete=(sec.tag == "delete"))
                if row is not None:
                    rows.append(row)
    else:
        for el in root:
            row = _parse_object(el)
            if row is not None:
                rows.append(row)
    return rows


def _tag_entries_schema():
    from pyspark.sql import types as T

    fields = []
    for fld in ENTITY_SCHEMA.fields:
        if fld.name == "tags":
            fields.append(
                T.StructField(
                    "tags",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("key", T.StringType(), False),
                                T.StructField("value", T.StringType(), True),
                            ]
                        )
                    ),
                    True,
                )
            )
        else:
            fields.append(fld)
    return T.StructType(fields)


_ENTITY_STARTS = (b"<node", b"<way", b"<relation")

# default size at which plain .osm/.osh switches to the distributed read
DISTRIBUTED_MIN_BYTES = 64 << 20


def _snap_to_element(f, pos: int, end: int) -> int | None:
    """Earliest top-level entity start at/after `pos` (seek + bounded
    scan — the split-point probe, not a full file read)."""
    chunk = 1 << 20
    overlap = max(len(p) for p in _ENTITY_STARTS) - 1
    while pos < end:
        f.seek(pos)
        buf = f.read(min(chunk, end - pos + overlap))
        hits = [i for p in _ENTITY_STARTS if (i := buf.find(p)) != -1]
        if hits:
            return pos + min(hits)
        if pos + len(buf) >= end:
            return None
        pos += len(buf) - overlap
    return None


def _make_xml_range_parser(path: str):
    """mapInPandas closure: (start, end) byte ranges -> entity rows via
    the driver's `_parse_object`, which ships by value with it (this
    module is registered with cloudpickle), so executors need only
    stdlib + pandas."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cols = [f.name for f in ENTITY_SCHEMA.fields]

    def parse(batches):
        import pandas as pd

        with open(path, "rb") as f:
            for pdf in batches:
                rows = []
                for start, end in zip(pdf["start"], pdf["end"]):
                    f.seek(int(start))
                    frag = f.read(int(end) - int(start))
                    root = ET.fromstring(b"<osm>" + frag + b"</osm>")
                    for el in root:
                        row = _parse_object(el)
                        if row is not None:
                            rows.append(row)
                yield pd.DataFrame(rows, columns=cols)

    return parse


def _read_osm_xml_distributed(
    spark: SparkSession, path: str, split_bytes: int = 32 << 20
) -> DataFrame:
    """Splittable read of a large plain .osm/.osh: driver probes split
    points (seek-only), executors parse byte ranges in parallel."""
    import os

    from pyspark.sql import functions as F

    path = os.path.abspath(path)
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        data_start = _snap_to_element(f, 0, size)
        # locate the closing </osm> in the file tail
        tail_at = max(0, size - (1 << 20))
        f.seek(tail_at)
        tail = f.read()
        close = tail.rfind(b"</osm>")
        if close == -1 or data_start is None:
            # no entities or malformed tail: fall back to driver parse
            return _read_osm_xml_driver(spark, path)
        data_end = tail_at + close
        bounds = [data_start]
        pos = data_start + split_bytes
        while pos < data_end:
            b = _snap_to_element(f, pos, data_end)
            if b is None:
                break
            if b > bounds[-1]:
                bounds.append(b)
            pos = b + split_bytes
        bounds.append(data_end)
    ranges = list(zip(bounds[:-1], bounds[1:]))
    n = min(len(ranges), spark.sparkContext.defaultParallelism)
    rdf = spark.createDataFrame(ranges, "start long, end long").repartition(n)
    decoded = rdf.mapInPandas(
        _make_xml_range_parser(path), schema=_tag_entries_schema()
    )
    return decoded.withColumn("tags", F.map_from_entries("tags")).select(
        *[f.name for f in ENTITY_SCHEMA.fields]
    )


def _read_osm_xml_driver(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    rows = parse_osm_xml(_read_text(path))
    df = spark.createDataFrame(rows, _tag_entries_schema())
    return df.withColumn("tags", F.map_from_entries("tags")).select(
        *[f.name for f in ENTITY_SCHEMA.fields]
    )


def read_osm_xml(
    spark: SparkSession,
    path: str,
    distributed_min_bytes: int = DISTRIBUTED_MIN_BYTES,
) -> DataFrame:
    """Read an .osm/.osh/.osc XML file into the canonical entity frame.

    Plain .osm/.osh at/above `distributed_min_bytes` use the splittable
    distributed read; compressed or .osc inputs that large raise (they
    cannot be split — convert to PBF/OPL/parquet for bulk data).

    Tags travel as an entries ARRAY and become a map via map_from_entries:
    converting a Python dict to a Spark map does NOT reliably preserve
    insertion order, but the reference's tag output order IS document
    order (export text/JSON formats print tags as listed in the file)."""
    import os

    size = os.path.getsize(path)
    if size >= distributed_min_bytes:
        compressed = path.endswith((".gz", ".bz2"))
        if not compressed:
            with open(path, "rb") as f:
                head = f.read(4096)
            is_change = b"<osmChange" in head
        else:
            is_change = False
        if compressed or is_change:
            raise ValueError(
                f"{path} is {size >> 20} MiB and "
                f"{'compressed' if compressed else 'an osmChange file'}: "
                "this input cannot be split for distributed parsing. "
                "Convert to .osm.pbf, .opl, or parquet for large data, "
                "or raise distributed_min_bytes to force the driver-side "
                "parse."
            )
        return _read_osm_xml_distributed(spark, path)
    return _read_osm_xml_driver(spark, path)


CHANGESET_SCHEMA = (
    "id long, created_at long, closed_at long, open boolean, uid int, "
    "user string, num_changes long, num_comments long, "
    "min_lon long, min_lat long, max_lon long, max_lat long, "
    "tags array<struct<k:string,v:string>>"  # array, not map: preserves
    # document tag order through createDataFrame (maps may re-bucket)
)


def read_changesets_xml(spark: SparkSession, path: str) -> DataFrame:
    """Read <changeset> elements (the Osmosis dump shape the reference's
    changeset-filter fixtures use) into the changeset frame consumed by
    operators/changesets.changeset_filter. num_comments counts
    <discussion> comments; absent bbox attributes stay NULL (an invalid
    bounds never matches a --bbox filter, reference
    command_changeset_filter.cpp:249)."""
    root = ET.fromstring(open(path).read())
    rows = []
    for el in root:
        if el.tag != "changeset":
            continue

        def coord(name: str):
            v = el.get(name)
            return int(round(float(v) * COORD_SCALE)) if v is not None else None

        discussion = el.find("discussion")
        rows.append(
            {
                "id": int(el.get("id")),
                "created_at": _parse_ts(el.get("created_at")),
                "closed_at": _parse_ts(el.get("closed_at")),
                "open": el.get("open") == "true",
                "uid": int(el.get("uid")) if el.get("uid") else None,
                "user": el.get("user"),
                "num_changes": int(el.get("num_changes") or 0),
                "num_comments": (
                    int(el.get("comments_count"))
                    if el.get("comments_count")
                    else len(discussion) if discussion is not None else 0
                ),
                "min_lon": coord("min_lon"),
                "min_lat": coord("min_lat"),
                "max_lon": coord("max_lon"),
                "max_lat": coord("max_lat"),
                "tags": [(t.get("k"), t.get("v")) for t in el if t.tag == "tag"],
            }
        )
    return spark.createDataFrame(rows, CHANGESET_SCHEMA)


def read_osm_xml_header(path: str) -> dict:
    """File + header metadata in the reference's `fileinfo -j` shape
    (command_fileinfo.cpp JSON layout; golden test/fileinfo/
    fi1-result.json): file name/format/compression/size, header bounding
    boxes, with_history (.osh suffix), and the <osm> root attributes as
    `option` entries (generator, version; `upload` surfaces as
    `xml_josm_upload` — the reference's name for JOSM's upload hint)."""
    import os as _os

    base = path
    for suf in (".gz", ".bz2"):
        if base.endswith(suf):
            base = base[: -len(suf)]
    compression = "gzip" if path.endswith(".gz") else (
        "bzip2" if path.endswith(".bz2") else "none"
    )
    file_info = {
        "name": path,
        "format": "XML",
        "compression": compression,
        "size": _os.path.getsize(path),
    }
    text = _read_text(path)
    root = ET.fromstring(text)
    boxes = []
    option: dict[str, str] = {}
    renamed = {
        ("xml_josm_upload" if k == "upload" else k): v
        for k, v in root.attrib.items()
    }
    for k in sorted(renamed):  # libosmium stores options sorted by FINAL name
        option[k] = renamed[k]
    for el in root:
        if el.tag == "bounds":
            try:
                boxes.append([
                    float(el.attrib["minlon"]), float(el.attrib["minlat"]),
                    float(el.attrib["maxlon"]), float(el.attrib["maxlat"]),
                ])
            except (KeyError, ValueError):
                pass
    header = {
        "boxes": boxes,
        "with_history": base.endswith(".osh"),
        "option": option,
    }
    return {"file": file_info, "header": header}
